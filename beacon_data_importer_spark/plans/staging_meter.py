"""Once-per-session staged inputs: one cache, one lock, one build timer
and one temp-dir lifecycle for every shared frame or on-disk layout.

A staged input is work several catalog queries share: the corpus
signature and shingle tables (plans/corpus_lsh.py), the co-purchase
edge list (plans/co_purchase.py), the fuzzy-pair stream
(operators/blocking.staged_fuzzy_pairs), the data-layout copies the
layout queries read back (catalog_r4, catalog_r5l) and the stream
source dir (streaming/events).  At warehouse scale each is a table the
pipeline writes once per build; here it lives as long as the session
that built it.

* ``stage`` returns ``build()``'s ``localCheckpoint``;
* ``stage_dir`` returns a directory ``write(path)`` filled.

Both build at most once per (session, name).  The cache is weakly
keyed by session, so a stopped-and-rebuilt session restages instead of
reading tables its catalog no longer has.  One re-entrant lock covers
check and build, so concurrent query threads never race a write to the
same location.  Stage dirs sit under one temp root per process,
removed at interpreter exit.

Each build's wall seconds land in ``STAGING_SEC``: that cost runs
inside whichever timed query asks first, and ``bench.py`` reports the
sum as its own ``staging_sec`` line item so per-query numbers are not
misattributed.  A build that needs another staged input fetches it
before calling ``stage``, so no second is counted twice.
"""

from __future__ import annotations

import atexit
import re
import shutil
import tempfile
import threading
import time
from typing import Callable, TypeVar
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

#: {stage name: build wall seconds}, accumulated per process.  Build
#: cost metadata only — never query results.
STAGING_SEC: dict[str, float] = {}

_T = TypeVar("_T")
_CACHE: "WeakKeyDictionary[SparkSession, dict[str, object]]" = WeakKeyDictionary()
_LOCK = threading.RLock()
_ROOT: str | None = None


def _once(spark: SparkSession, name: str, build: Callable[[], _T]) -> _T:
    with _LOCK:
        per_session = _CACHE.setdefault(spark, {})
        if name not in per_session:
            t0 = time.time()
            try:
                per_session[name] = build()
            finally:
                STAGING_SEC[name] = round(
                    STAGING_SEC.get(name, 0.0) + (time.time() - t0), 3
                )
        return per_session[name]


def stage(
    spark: SparkSession, name: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """``build()``'s ``localCheckpoint``, built once per session."""
    return _once(spark, name, lambda: build().localCheckpoint())


def stage_dir(
    spark: SparkSession, name: str, write: Callable[[str], object]
) -> str:
    """A directory ``write(path)`` filled, once per session."""

    def build() -> str:
        global _ROOT
        if _ROOT is None:
            _ROOT = tempfile.mkdtemp(prefix="spark_graft_stage_")
            atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
        path = tempfile.mkdtemp(
            prefix=re.sub(r"\W+", "_", name)[:64] + "_", dir=_ROOT
        )
        write(path)
        return path

    return _once(spark, name, build)
