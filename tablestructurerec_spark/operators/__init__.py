"""Native DataFrame operators: the SQL-expressible faces of SURVEY.md §2
plus the large-scale training-data operators (dedup, similarity, text stats).

Each module registers its queries in ``QUERIES`` (name → ``(spark, sf_dir)
-> DataFrame``) and, where a sf-independent DuckDB oracle backs a query the
driver or the parity tests run, the oracle in ``ORACLE_SQL``.  Those module
dicts are the only registration; :func:`collect` merges them.
"""

from __future__ import annotations

import importlib
import pkgutil
from typing import Any, Dict


def collect(attr: str) -> Dict[str, Any]:
    """Merge every operator module's ``attr`` dict (``"QUERIES"`` or
    ``"ORACLE_SQL"``) in module-name order.  Modules are imported here, on
    call, so importing this package stays free.  A name registered by two
    modules raises ``ValueError``."""
    out: Dict[str, Any] = {}
    for info in pkgutil.iter_modules(__path__):
        mod = importlib.import_module(f"{__name__}.{info.name}")
        for name, value in getattr(mod, attr, {}).items():
            if name in out:
                raise ValueError(f"{attr} name {name!r} registered twice ({info.name})")
            out[name] = value
    return out
