"""One evaluation for fan-out intermediates — the shared helper behind
every subtree-dedup checkpoint site (optimization r12 §I, hardened r13).

The pattern: Catalyst re-plans a DataFrame once per downstream
reference (it deduplicates identical *exchanges* via ReusedExchange,
not arbitrary subtrees), so a frame feeding several consumers re-scans
its inputs and re-pays its shuffles per consumer. A LAZY
``localCheckpoint(eager=False)`` at the fan-out point compiles the plan
at build time but computes the data once inside the first action; every
consumer then reads the persisted blocks.

The cost (guide §5): ``localCheckpoint`` stores NON-REPLICATED
MEMORY_AND_DISK blocks on executors and truncates lineage — if an
executor dies mid-query the job fails and retries from the source
instead of recomputing the lost partition. That trade is obviously
right for a frame bounded by a key domain (5 dispositions, ~80 months,
P shuffle partitions) and obviously wrong for a frame that is one row
per corpus document at 100 TB: corpus-sized executor storage plus a
corpus-sized fault-tolerance hole. Hence two call forms:

- ``pin(df)`` — caller asserts the frame is BOUNDED (cardinality set by
  a fixed key domain / dimension table, not by the corpus). Always
  checkpoints.
- ``pin(df, approx_input_bytes=input_size_bytes(sf_dir, "documents"))``
  — the frame's row count grows with the named base table(s)
  (doc-grain, pair-grain, user-grain ...). Checkpoints only while the
  bounding inputs are small (default 4 GiB, env-overridable); above the
  threshold it returns ``df`` unchanged and consumers recompute the
  subtree — slower, but recompute keeps lineage and bounded executor
  storage, which is the right default at corpus scale. Estates with a
  reliable checkpoint dir can raise ``SPARK_GRAFT_CKPT_MAX_INPUT_BYTES``
  (or swap this helper's body for ``checkpoint()``) instead.
- ``pin(df, required=True)`` — the checkpoint is a CORRECTNESS
  handshake (scale_rank's partition-id pinning: two independent range
  shuffles could legally sample different bounds), not a perf dedup.
  Never disabled, by knob or by size.

One debug knob covers every non-required site: ``SPARK_GRAFT_NO_CKPT=1``
skips the truncation so the plan-dump tools can show the full
declarative tree as before/after evidence. It is a plan-evidence knob
only — never set by bench, driver, or test defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: Plan-evidence knob: disable every non-required pin so tools_plans.py
#: can dump untruncated trees. Debug only.
_NO_CKPT_ENV = "SPARK_GRAFT_NO_CKPT"

#: Size gate for corpus-proportional frames: above this many bytes of
#: bounding input, ``pin`` falls back to recompute. The default is
#: sized to stay far under one executor's storage even after an
#: explode-ish grain change (shingles, pairs), while still covering
#: every local fixture (sf0.1 is ~25 MB) and any dataset for which
#: pinning is clearly cheap.
_MAX_BYTES_ENV = "SPARK_GRAFT_CKPT_MAX_INPUT_BYTES"
_MAX_BYTES_DEFAULT = 4 << 30

#: Sentinel for "could not size the inputs" — treated as corpus-sized.
_UNKNOWN_BYTES = 1 << 62


def _max_bytes() -> int:
    raw = os.environ.get(_MAX_BYTES_ENV)
    try:
        return int(raw) if raw else _MAX_BYTES_DEFAULT
    except ValueError:
        return _MAX_BYTES_DEFAULT


def input_size_bytes(sf_dir: str, *tables: str) -> int:
    """On-disk bytes of the base tables that bound a frame's cardinality
    — the build-time size signal for ``pin``'s adaptive branch. Pure
    filesystem metadata (no py4j round-trip, no plan analysis — the §5
    driver-cost lesson from r12's ``_spread`` probe). A table that
    cannot be sized (remote path, missing file) makes the whole estimate
    "unknown", which the gate treats as corpus-sized: at real scale the
    safe branch is recompute."""
    total = 0
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        try:
            if os.path.isdir(path):
                total += sum(
                    os.path.getsize(os.path.join(dirpath, f))
                    for dirpath, _, files in os.walk(path)
                    for f in files
                )
            else:
                total += os.path.getsize(path)
        except OSError:
            return _UNKNOWN_BYTES
    return total


def pin(
    df: DataFrame,
    *,
    approx_input_bytes: int | None = None,
    required: bool = False,
) -> DataFrame:
    """Pin ONE evaluation of ``df`` for several downstream consumers
    (lazy localCheckpoint — plan compiled at build, data computed inside
    the first action). See the module docstring for the three call
    forms and the recompute fallback."""
    if required:
        return df.localCheckpoint(eager=False)
    if os.environ.get(_NO_CKPT_ENV) == "1":
        return df
    if approx_input_bytes is not None and approx_input_bytes > _max_bytes():
        return df
    return df.localCheckpoint(eager=False)
