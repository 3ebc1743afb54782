from ragflow_spark.plans.partitioning import (  # noqa: F401
    with_partition_id,
    partition_for_extract,
)
from ragflow_spark.plans.manifest import (  # noqa: F401
    build_manifest,
    resume_partitions,
    write_manifest,
)
