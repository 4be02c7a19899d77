from raqc_spark.checks.blocks import verdicts_from_partition_agg
from raqc_spark.checks.stats import compile_stats_pass
from raqc_spark.checks.uniqueness import uniqueness_check
from raqc_spark.checks.integrity import ref_integrity_check
from raqc_spark.checks.drift import align_snapshots, drift_check, hist2d

__all__ = [
    "verdicts_from_partition_agg",
    "compile_stats_pass",
    "uniqueness_check",
    "ref_integrity_check",
    "align_snapshots",
    "drift_check",
    "hist2d",
]
