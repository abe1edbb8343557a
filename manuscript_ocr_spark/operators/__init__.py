"""Scale/robustness operators: salted bucketing + per-partition
checkpoint/commit/resume (checkpoint.py)."""

from .checkpoint import (
    bucket_of,
    committed_buckets,
    extract_with_checkpoint,
    read_checkpointed,
)

__all__ = [
    "bucket_of",
    "committed_buckets",
    "extract_with_checkpoint",
    "read_checkpointed",
]
