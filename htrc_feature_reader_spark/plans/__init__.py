from .manifest import (  # noqa: F401
    invalidate_partitions,
    partition_digests,
    read_manifest,
    repair_write,
    resume_write,
    verify_output,
)
