from nyctaxidatapipeline_spark.plans.util import (
    data_sized_bnljs,
    explain_str,
    fan_out,
    local_frame,
    round_doubles,
)

__all__ = ["data_sized_bnljs", "explain_str", "fan_out", "local_frame",
           "round_doubles"]
