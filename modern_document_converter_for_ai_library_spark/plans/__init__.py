from .session import get_spark, job_session
from .salting import with_size_bucket, balance_by_size

__all__ = ["get_spark", "job_session", "with_size_bucket", "balance_by_size"]
