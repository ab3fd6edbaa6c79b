"""One cache scope per call: salted persists, released together.

Operators persist intermediate frames so later rounds, the other side
of a self-join, and the caller's final action read them instead of
re-running their lineage: knn_join's eager rounds, the MinHash band join
(minhash_lsh_pairs_sql), the banded hamming join (hamming_neardup_pairs,
which serves simhash_pairs, both pHash widths and hamming256_neardup) and
coverage_join's candidate pairs, whose byte count picks the broadcast
regime before the join reads them. Every such persist goes through `persist`,
inside a call decorated with `scoped`. Three rules hold for every handle:

1. **Salt each plan.** Spark's CacheManager keys entries by canonicalized
   logical plan, so two calls over identical inputs would persist
   identical plans: the second aliases the first's live entry, and the
   first call's deferred release then drops the second call's caches
   mid-flight (measured: 6 s vs 106 s final actions on back-to-back
   identical 4M-point kNN runs). `persist` adds a process-unique literal
   column before persisting and drops it right after; InMemoryTableScan
   prunes it, and a constant column RLE-compresses to nothing.
2. **Never unpersist eagerly at return.** Spark's cache invalidation is
   non-cascading (SPARK-24596): unpersisting a plan that other entries
   depend on re-caches those dependents UNMATERIALIZED, so releasing an
   early cache at return silently re-runs every later one on the
   caller's first action. The outermost scope instead ties the release
   to the frame it returns, with one `weakref.finalize` -- the same
   reclamation model as Spark's own ContextCleaner. Nested scopes pass
   their handles up, so a wrapper's bare `.select(...)` over an
   operator's result keeps the operator's caches alive.
3. **Release in reverse order.** Leaves go before the roots they were
   built from, so no unpersist finds a live dependent to de-materialize.

Caches therefore never outlive the frame a call returns. A caller that
drops the operator's result and keeps only a projection of it should
make that projection inside a `scoped` function of its own.
"""

from __future__ import annotations

import functools
import itertools
import weakref
from contextvars import ContextVar

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = itertools.count()
_HANDLES: ContextVar[list[DataFrame] | None] = ContextVar("cachescope", default=None)


def persist(df: DataFrame) -> DataFrame:
    """Persist `df` under a fresh plan salt in the innermost active scope;
    returns the frame with the salt dropped."""
    handles = _HANDLES.get()
    if handles is None:
        raise RuntimeError("cachescope.persist called outside a @scoped call")
    salted = df.withColumn("_salt", F.lit(next(_SALT))).persist()
    handles.append(salted)
    return salted.drop("_salt")


def _release(handles: list[DataFrame]) -> None:
    for h in reversed(handles):
        try:
            h.unpersist(False)
        except Exception:
            pass  # session already stopped


def scoped(fn):
    """Run `fn` in a cache scope; the outermost scope releases every handle
    when the frame `fn` returns is garbage-collected."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        handles: list[DataFrame] = []
        token = _HANDLES.set(handles)
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            _release(handles)  # nothing returned can read them
            raise
        finally:
            _HANDLES.reset(token)
        outer = _HANDLES.get()
        if outer is not None:
            outer.extend(handles)
        elif handles:
            weakref.finalize(out, _release, handles)
        return out

    return run
