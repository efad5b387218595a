"""Engine-level planning (SURVEY.md §4: what Catalyst does NOT do for us).

Catalyst shares nothing ACROSS actions: five verdict frames that each
aggregate the pages table cost five scans unless the engine plans one
shared pass. This package is that planner — the "check-suite compiler"
of SURVEY.md §7.0: declarative check suite in, a minimal set of shared
scans out.
"""

from anomalydetector_spark.plans.fused import (  # noqa: F401
    dup_rows,
    partition_rollup,
    url_profile,
)
