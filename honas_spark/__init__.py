"""honas_spark — a PySpark-native distributed sketch/approximate-aggregation
engine with the query and data-processing capabilities of SURFnet/honas,
re-designed Spark-first (see SURVEY.md)."""

from . import _worker
from .spec import SketchSpec
from .state import SketchState

# no-op outside a running PySpark task
_worker.install()


def get_spark(*args, **kwargs):
    """Convenience re-export (lazy: importing honas_spark must not
    require a JVM)."""
    from .session import get_spark as _get

    return _get(*args, **kwargs)


__all__ = ["SketchSpec", "SketchState", "get_spark"]
__version__ = "0.2.0"
