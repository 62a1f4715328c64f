"""Import EVERY catalog module so its queries register.

Single registration point shared by ``__spark_entry__.py``, ``cli.py``,
``bench.py`` and the tools — a new ``catalog_*`` module dropped into
the package is discovered automatically (sorted import order keeps
registration deterministic), so the CLI's query registry can never
drift behind the entry point again (ADVICE r5 item 3: cli.py imported
only ``catalog_r5`` and missed the ~47 queries registered by
catalog_r5b–r5q).
"""

from __future__ import annotations

import importlib
import pkgutil

import beacon_data_importer_spark as _pkg

from . import catalog

for _mod in sorted(
    m.name
    for m in pkgutil.iter_modules(_pkg.__path__)
    if m.name.startswith("catalog")
):
    importlib.import_module(f"beacon_data_importer_spark.{_mod}")

QUERIES = catalog.QUERIES
ORACLES = catalog.ORACLES
DRIVER_SLOTS = catalog.DRIVER_SLOTS
