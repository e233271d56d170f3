"""Per-query physical-plan fingerprints — the plan side of bench-drift
adjudication.

Rounds 10-12 each burned a full work item adjudicating bench-artifact
wall-time drifts that ALL resolved to "not code" (PLANS.md #22 / #24 /
#25 / #28: suite ordering, host band, page cache — never a plan change).
The missing instrument was a mechanical witness for the plan itself: if a
query's normalized physical-plan fingerprint is byte-identical between
two trees, any wall drift on that query is environmental by construction
and the old-tree-first solo re-run protocol is unnecessary. This tool
produces that witness.

For every entry in ``__spark_entry__.queries()`` it builds the DataFrame
against ``$SPARK_GRAFT_SF_DIR`` (default sf0.1 — the bench instrument's
scale, so size-adaptive operating points resolve exactly as the bench
sees them), captures ``explain("formatted")``, strips the volatile
tokens (expression ids, temp paths, object-store locations, cached-plan
statistics, byte sizes), and records

  * ``hash``     — sha256 of the normalized plan text, and
  * ``features`` — a small operator census (exchanges, joins by type,
    aggregates, windows, sorts, Python-eval nodes, scans, pushed-filter
    scans) so a hash CHANGE can be triaged at a glance without reading
    two full plans.

Modes::

    python tools/plan_fingerprints.py                    # write artifact
    python tools/plan_fingerprints.py --out X.json       # write elsewhere
    python tools/plan_fingerprints.py --diff OLD NEW     # compare two
    python tools/plan_fingerprints.py --check            # regen + diff
                                                         # vs committed

``--diff`` accepts bench artifacts too (BENCH_FULL.json / BENCH_r*.json
— any JSON carrying a ``fingerprints`` map, which bench.py embeds per
query since r13): a driver-run bench artifact is thereby
SELF-ADJUDICATING — ``--diff PLAN_FINGERPRINTS.json BENCH_rN.json``
answers "was any wall move in this artifact a plan change?" in one
command, no old-tree re-run needed (VERDICT r12 task 2).

``--diff`` / ``--check`` exit 1 when any query's hash changed (or was
added/removed), printing a per-query feature delta. A changed hash is
not automatically a defect — code changes legitimately change plans —
it is the signal that a wall-time move on that query DOES need a plan
read, while an unchanged hash licenses skipping it.

Determinism notes (why the hash is stable run-to-run):

  * every seeded operator in the registry uses fixed seeds (the repo
    bans wall-clock/driver randomness in registered queries), so
    collected-literal plans (k-means centroids, sampled thresholds) are
    bit-identical;
  * size-adaptive operating points (``input_scan_bytes`` probes, auto
    list counts) are functions of the immutable testdata files at the
    chosen sf_dir;
  * everything else volatile (exprId allocation order, temp index dirs,
    InMemoryFileIndex locations, statistics) is normalized away;
  * one shape is NOT normalizable, so a registered query must not use
    it: two distinct aggregates over different children (say
    ``count_distinct(x)`` beside ``count_distinct(when(c, x))``) plan
    as an ``Expand`` whose projection order follows a hash over
    exprIds — ids drawn from a session-wide counter, so the order (and
    the hash) depends on how many expressions earlier queries created.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_OUT = os.path.join(_REPO, "PLAN_FINGERPRINTS.json")

# Volatile-token patterns, applied in order. Each maps run-specific text
# to a stable placeholder while preserving the plan's structure and the
# attributes that matter (operator kind, join type/build side, keys,
# pushed filters, partitioning).
_NORMALIZERS: list[tuple[re.Pattern[str], str]] = [
    # (expression ids are renumbered per-plan BEFORE these rules run —
    # see _renumber_expr_ids; collapsing them to one token would make
    # rewiring which same-named attribute feeds an expression — e.g.
    # the two sides of a self-join, distinguished only by exprId —
    # invisible. ADVICE r12.)
    # RDD ids in ExistingRDD scans (localCheckpoint-ed frames): the
    # integer is a session-global counter, so it encodes how many jobs
    # ran before this query in the same JVM.
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    # RDD creation-site suffixes ("... at localCheckpoint at
    # NativeMethodAccessorImpl.java:0"): the file token flips to
    # "<unknown>:0" once the JVM JIT-inflates the reflective accessor —
    # warmup state, not plan content. Keep the operation name (the
    # first "at X"), drop the call-site.
    (re.compile(r" at [\w.<>$]+:\d+"), " at <callsite>"),
    # Whole-stage-codegen / subquery / plan ids.
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"\[id=#?\w+\]"), "[id=N]"),
    # (subquery ids are renumbered per-plan BEFORE these rules run —
    # see _renumber_subqueries; collapsing them to one token would
    # make swapping which subquery feeds which expression invisible)
    (re.compile(r"cte \[\w+\]"), "cte [N]"),
    # Paths: scan locations, temp index dirs, checkpoint dirs. Bracketed
    # location lists first, then bare file: URIs and absolute paths.
    (re.compile(r"\[[^\]\[]*(?:file:|/tmp/|/root/)[^\]\[]*\]"), "[<paths>]"),
    (re.compile(r"file:[^\s,\)\]]*"), "<path>"),
    (re.compile(r"/(?:tmp|root)/[^\s,\)\]]*"), "<path>"),
    # InMemoryFileIndex / InMemoryRelation statistics and cache info.
    (re.compile(r"InMemoryFileIndex(?:\([^)]*\))?"), "InMemoryFileIndex"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(<elided>)"),
    (re.compile(r"StorageLevel\([^)]*\)"), "StorageLevel(<elided>)"),
    # Byte sizes and row counts that leak through stats printing.
    (re.compile(r"\b\d+(?:\.\d+)?\s*(?:B|KiB|MiB|GiB|TiB)\b"), "<size>"),
    (re.compile(r"rowCount=\d+"), "rowCount=N"),
]

# Operator census: label -> substring looked for per plan line. Counts
# are over the formatted plan's numbered tree, so reused exchanges
# appear once per reference (which is what you want for triage: a new
# reference to an exchange IS a plan change).
_FEATURE_PROBES: list[tuple[str, str]] = [
    ("scans", "Scan "),
    ("exchanges", "Exchange"),
    ("broadcast_exchanges", "BroadcastExchange"),
    ("reused_exchanges", "ReusedExchange"),
    ("broadcast_hash_joins", "BroadcastHashJoin"),
    ("sort_merge_joins", "SortMergeJoin"),
    ("shuffled_hash_joins", "ShuffledHashJoin"),
    ("bnl_joins", "BroadcastNestedLoopJoin"),
    ("cartesian", "CartesianProduct"),
    ("hash_aggregates", "HashAggregate"),
    ("object_hash_aggregates", "ObjectHashAggregate"),
    ("sort_aggregates", "SortAggregate"),
    ("sorts", "Sort "),
    ("windows", "Window"),  # corrected below: excludes WindowGroupLimit
    ("window_group_limits", "WindowGroupLimit"),
    ("arrow_eval_python", "ArrowEvalPython"),
    ("batch_eval_python", "BatchEvalPython"),
    ("map_in_pandas", "MapInPandas"),
    ("flatmap_groups_in_pandas", "FlatMapGroupsInPandas"),
    ("in_memory_relations", "InMemoryTableScan"),
    ("generates", "Generate"),
    ("global_limits", "GlobalLimit"),
]


_LAMBDA_VAR = re.compile(r"\blambda ([A-Za-z]\w*?)_(\d+)\b")


def _renumber_lambda_vars(text: str) -> str:
    """Higher-order-function lambda variables print as
    ``lambda <name>_<K>`` (``x_7``, and ``y_8``/``z_9`` for the extra
    arguments of aggregate/zip_with) where K is a SESSION-GLOBAL
    counter — it encodes how many lambda expressions the JVM allocated
    before this plan, not anything about the plan. Renumber per-plan in
    order of first appearance (rather than collapsing to one token) so
    distinct variables in nested lambdas stay distinguishable. Only
    "lambda "-prefixed tokens are touched: data columns never print
    with that prefix."""
    seen: dict[str, int] = {}

    def repl(m: re.Match[str]) -> str:
        key = m.group(0)
        if key not in seen:
            seen[key] = len(seen)
        return f"lambda {m.group(1)}_{seen[key]}"

    return _LAMBDA_VAR.sub(repl, text)


_EXPR_ID = re.compile(r"#(\d+)([A-Za-z]*)")


def _renumber_expr_ids(text: str) -> str:
    """Attribute/expression ids (``name#123``, ``x#45L``) come off the
    session-global expression counter — the absolute value encodes how
    many expressions the session allocated before this plan, not plan
    content. Renumber per-plan in first-appearance order (ADVICE r12:
    collapsing every id to one ``#id`` token hid plan changes that only
    rewire WHICH same-named attribute feeds an expression — the two
    sides of a self-join are distinguished solely by exprId). The type
    suffix letter(s) after the digits belong to the id token, not the
    name, and carry no plan information — strip them."""
    seen: dict[str, int] = {}

    def repl(m: re.Match[str]) -> str:
        k = m.group(1)
        if k not in seen:
            seen[k] = len(seen)
        return f"#e{seen[k]}"

    return _EXPR_ID.sub(repl, text)


_SUBQUERY_REF = re.compile(r"\b((?:scalar-)?[Ss]ubquery)#(\d+)")


def _renumber_subqueries(text: str) -> str:
    """Subquery ids share the session-global expression counter; like
    lambda vars they are renumbered per-plan in first-appearance order
    rather than collapsed, so rewiring which subquery feeds which
    expression still changes the hash."""
    seen: dict[str, int] = {}

    def repl(m: re.Match[str]) -> str:
        k = m.group(2)
        if k not in seen:
            seen[k] = len(seen)
        return f"{m.group(1)}_{seen[k]}"

    return _SUBQUERY_REF.sub(repl, text)


def normalize_plan(text: str) -> str:
    text = _renumber_lambda_vars(text)
    # subqueries before expr ids: the subquery pattern keys on the raw
    # "#<digits>" token the expr-id pass would rewrite
    text = _renumber_subqueries(text)
    text = _renumber_expr_ids(text)
    for pat, repl in _NORMALIZERS:
        text = pat.sub(repl, text)
    # Collapse runs of spaces the substitutions may have produced so
    # cosmetic alignment differences can't perturb the hash.
    text = re.sub(r"[ \t]+", " ", text)
    return text.strip()


def plan_features(text: str) -> dict[str, int]:
    # Formatted explain prints each operator twice — once in the tree,
    # once as a numbered detail block. Census the tree section only
    # (everything before the first blank line) so counts equal the
    # number of operator NODES; pushed-filter info lives only in the
    # detail blocks, so grab it from the full text first.
    pushed = len(re.findall(r"PushedFilters: \[(?!\])", text))
    text = text.split("\n\n", 1)[0]
    feats: dict[str, int] = {}
    for label, probe in _FEATURE_PROBES:
        n = text.count(probe)
        if label == "exchanges":
            # Plain "Exchange" also matches Broadcast/ReusedExchange;
            # keep it as shuffle exchanges only.
            n -= text.count("BroadcastExchange")
            n -= text.count("ReusedExchange")
        if label == "windows":
            # plain "Window" also matches WindowGroupLimit
            n -= text.count("WindowGroupLimit")
        if label == "scans":
            # "Scan " also matches InMemoryTableScan's detail lines in
            # some Spark versions; good enough for triage counts.
            pass
        if n:
            feats[label] = n
    # One boolean-ish feature: does any scan carry pushed filters?
    if pushed:
        feats["scans_with_pushed_filters"] = pushed
    # Tree size: a coarse structural magnitude so a hash change's scale
    # is visible at a glance. (Whole-stage-codegen coverage is NOT
    # recorded: under AQE the pre-execution formatted plan carries no
    # codegen stars / "codegen id" detail — that metric only exists on
    # the executed plan, which is the bench's job, not this tool's.)
    feats["total_nodes"] = sum(
        1 for line in text.splitlines() if re.search(r"\(\d+\)\s*$", line))
    return feats


def fingerprint_df(df) -> tuple[str, dict[str, int]]:
    from nyctaxidatapipeline_spark.plans import explain_str

    norm = normalize_plan(explain_str(df, "formatted"))
    return hashlib.sha256(norm.encode()).hexdigest(), plan_features(norm)


def generate(sf_dir: str, only: list[str] | None = None) -> dict:
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod
    from nyctaxidatapipeline_spark import get_spark

    spark = get_spark("plan-fingerprints")
    qset = entrymod.queries()
    if only:
        qset = {n: qset[n] for n in only}
    out: dict[str, dict] = {}
    t0 = time.perf_counter()
    for name, fn in qset.items():
        t1 = time.perf_counter()
        try:
            digest, feats = fingerprint_df(fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            out[name] = {"error": f"{type(exc).__name__}: {exc}"}
            continue
        out[name] = {"hash": digest, "features": feats,
                     "build_sec": round(time.perf_counter() - t1, 3)}
    return {
        "sf_dir": sf_dir,
        "n_queries": len(out),
        "wall_sec": round(time.perf_counter() - t0, 1),
        "queries": dict(sorted(out.items())),
    }


def as_fp_artifact(d: dict) -> dict:
    """Coerce a bench artifact (BENCH_FULL/BENCH_r*/driver-recorded
    line, identified by its ``fingerprints`` map — VERDICT r12 task 2)
    into fingerprint-artifact form so ``--diff`` adjudicates a wall
    drift directly against the artifact that reported it. Bench rows
    carry the hash only (no feature census — that is the fingerprint
    artifact's job), so a hash change diffed against a bench side
    triages to 'rerun tools/plan_fingerprints.py'. Fingerprint
    artifacts pass through untouched."""
    if "fingerprints" not in d:
        return d
    # bench.py writes the sentinel "error" when fingerprint_df threw
    # for a query (it never fails the bench); route it into diff()'s
    # BUILD ERROR branch — as a bare hash, two errored bench sides
    # would compare "error" == "error" and silently read as an
    # unchanged plan, and error-vs-real-hash would misreport as a
    # plan change (r13 review finding 2)
    return {"sf_dir": d.get("sf_dir", f"<bench sf={d.get('sf')}>"),
            "queries": {n: ({"error": "bench-side fingerprint failed"}
                            if h == "error" else {"hash": h})
                        for n, h in d["fingerprints"].items()}}


def diff(old: dict, new: dict) -> list[str]:
    """Human-readable per-query differences; empty when plans match."""
    old, new = as_fp_artifact(old), as_fp_artifact(new)
    msgs: list[str] = []
    oq, nq = old.get("queries", {}), new.get("queries", {})
    if old.get("sf_dir") != new.get("sf_dir"):
        # size-adaptive operating points resolve per sf_dir — comparing
        # artifacts from different scales yields mass spurious drift,
        # so name the cause before the per-query noise
        msgs.append(f"SF_DIR MISMATCH: {old.get('sf_dir')} vs "
                    f"{new.get('sf_dir')} — hash differences below are "
                    f"expected scale effects, not drift")
    for name in sorted(set(oq) | set(nq)):
        if name not in nq:
            msgs.append(f"{name}: REMOVED")
        elif name not in oq:
            msgs.append(f"{name}: ADDED")
        elif "error" in oq[name] or "error" in nq[name]:
            # an errored side has no hash — None == None must NOT read
            # as "unchanged", and a hash-vs-None delta is not a plan
            # change; report the build failure itself
            err = nq[name].get("error", oq[name].get("error"))
            side = ("BOTH" if "error" in oq[name] and "error" in nq[name]
                    else "OLD" if "error" in oq[name] else "NEW")
            msgs.append(f"{name}: BUILD ERROR ({side}): {err}")
        elif oq[name].get("hash") != nq[name].get("hash"):
            of, nf = oq[name].get("features", {}), nq[name].get("features", {})
            delta = {k: (of.get(k, 0), nf.get(k, 0))
                     for k in sorted(set(of) | set(nf))
                     if of.get(k, 0) != nf.get(k, 0)}
            if "features" not in oq[name] or "features" not in nq[name]:
                detail = ("no feature census on the bench side — rerun "
                          "tools/plan_fingerprints.py to triage")
            else:
                detail = (", ".join(f"{k} {a}->{b}"
                                    for k, (a, b) in delta.items())
                          or "same operator census (expression-level "
                             "change)")
            msgs.append(f"{name}: HASH CHANGED — {detail}")
    return msgs


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--out", default=DEFAULT_OUT)
    p.add_argument("--sf-dir",
                   default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.1"))
    p.add_argument("--only", help="comma-separated query subset")
    p.add_argument("--diff", nargs=2, metavar=("OLD", "NEW"),
                   help="compare two artifacts; exit 1 on any change")
    p.add_argument("--check", action="store_true",
                   help="regenerate and diff against --out; exit 1 on drift")
    args = p.parse_args()

    if args.diff:
        with open(args.diff[0]) as f:
            old = json.load(f)
        with open(args.diff[1]) as f:
            new = json.load(f)
        msgs = diff(old, new)
        for m in msgs:
            print(m)
        print(f"{len(msgs)} plan difference(s)")
        return 1 if msgs else 0

    only = [s.strip() for s in args.only.split(",")] if args.only else None
    art = generate(args.sf_dir, only)
    errors = {n: q["error"] for n, q in art["queries"].items() if "error" in q}
    if args.check:
        with open(args.out) as f:
            committed = json.load(f)
        if only:
            committed = {**committed,
                         "queries": {n: committed["queries"][n]
                                     for n in only
                                     if n in committed["queries"]}}
        msgs = diff(committed, art)
        for m in msgs:
            print(m)
        print(f"{len(msgs)} plan difference(s) vs {args.out}")
        return 1 if msgs or errors else 0
    with open(args.out, "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {art['n_queries']} fingerprints to {args.out} "
          f"in {art['wall_sec']}s ({len(errors)} errors)")
    for n, e in errors.items():
        print(f"  ERROR {n}: {e}")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
