import importlib
import pkgutil
import re

from bikes_data_warehouse_etl_spark.plans.date_dim import build_date_dim

# synthetic owns the QUERIES registry and registers pushdown_scan first
# (the bench's first query absorbs JVM warm-up); importing every other
# module of the package, in natural-sort order, adds the rest
from bikes_data_warehouse_etl_spark.plans.synthetic import QUERIES


def _natural_key(name: str) -> list:
    return [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", name)]


for _m in sorted(
    (m.name for m in pkgutil.iter_modules(__path__)), key=_natural_key
):
    importlib.import_module(f"{__name__}.{_m}")

__all__ = ["build_date_dim", "QUERIES"]
