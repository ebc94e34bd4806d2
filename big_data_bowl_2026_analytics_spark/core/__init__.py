from .session import get_spark, local_frame

__all__ = ["get_spark", "local_frame"]
