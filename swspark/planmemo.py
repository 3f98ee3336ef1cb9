"""Idempotent DataFrame construction for the hot wave operators.

A DataFrame is an immutable, UNEVALUATED query description; building
it twice for identical inputs yields two semantically equal plans
that Spark nevertheless treats as distinct — fresh expression IDs,
fresh analysis/optimization, fresh Janino compilation of generated
code, fresh JIT warmup of those classes — on every wave of a crawl
loop. Returning the SAME DataFrame object for the same (df, args)
call makes repeated waves reuse the already-analyzed plan and its
already-compiled (and HotSpot-hot) generated classes.

This memoizes plan CONSTRUCTION only. No rows, results, or scan
outputs are cached: every action on the returned DataFrame recomputes
from the inputs exactly as before (measured: each wave's count() runs
the full job; only the seconds of per-wave re-planning/re-codegen —
and the JIT churn that made wave timings bimodal — disappear).

Keys: object identity for DataFrames/arrays/dicts (two separately
built but equal plans are NOT unified — only literal reuse of the
same inputs hits), ordinary equality for scalars. Strong references
are kept (bounded LRU) so id() keys cannot be recycled.

Opt out with SPARK_GRAFT_PLAN_MEMO=0 (e.g. for codegen A/B tooling).
"""

from __future__ import annotations

import os
from collections import OrderedDict
from functools import wraps

_MAX_ENTRIES = 64


def _key_part(v):
    # identity for plan-bearing / unhashable objects, value for scalars
    # and frozen dataclass configs (e.g. Throttle — rebuilt per call)
    if isinstance(v, (str, int, float, bool, bytes, frozenset, tuple,
                      type(None))):
        return ("v", type(v).__name__, v)
    import dataclasses

    if dataclasses.is_dataclass(v) and not isinstance(v, type):
        try:
            hash(v)
            return ("dc", type(v).__name__, v)
        except TypeError:
            pass
    return ("id", id(v))


def memoize_plan(fn):
    """Memoize a DataFrame-returning pure constructor on its inputs."""
    memo: OrderedDict = OrderedDict()

    @wraps(fn)
    def wrapper(*args, **kwargs):
        if os.environ.get("SPARK_GRAFT_PLAN_MEMO", "1") == "0":
            return fn(*args, **kwargs)
        key = (
            tuple(_key_part(a) for a in args),
            tuple(sorted((k, _key_part(v)) for k, v in kwargs.items())),
        )
        try:
            # hashing happens here: a tuple argument holding a list
            # (or any other unhashable part) falls back to a plain call
            hit = memo.get(key)
        except TypeError:
            return fn(*args, **kwargs)
        if hit is not None:
            memo.move_to_end(key)
            return hit[1]
        out = fn(*args, **kwargs)
        # hold the argument objects so their id()s stay valid
        memo[key] = ((args, kwargs), out)
        if len(memo) > _MAX_ENTRIES:
            memo.popitem(last=False)
        return out

    wrapper.__wrapped__ = fn
    return wrapper
