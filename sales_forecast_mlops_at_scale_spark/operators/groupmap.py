"""Many-groups-per-batch grouped map over sorted partitions.

``DataFrame.groupBy(keys).applyInPandas(fn, schema)`` invokes the Python
function ONCE PER GROUP.  For a few hundred large groups that is the
right shape; for thousands-to-millions of *small* groups (the ML family:
~3,000 (supplier, returnflag) series of ~190 daily rows each at sf0.1,
~1M (store, product) series at the reference's production scale), the
per-call constant dominates the job: one-row ``pd.DataFrame``
construction alone is ~0.4 ms/group, and the whole per-group Python
overhead is ~0.9 ms — ~2.7 s of pure constant at 3,000 groups before any
model math runs (measured, round 7).

:func:`sorted_group_map` keeps the same logical semantics — each group
processed exactly once, in time order — but restores batch-level
amortization:

1. hash-repartition on the group keys into a fixed partition count
   (skippable when the input is already partitioned on them — e.g.
   downstream of an aggregate whose grouping key is a superset, which
   reuses the SAME exchange),
2. ``sortWithinPartitions(*keys, *order_cols)`` — groups become
   contiguous runs, already time-ordered, so kernels need no per-group
   argsort,
3. ``mapInPandas`` with a generator that finds group boundaries
   vectorized, CARRIES the trailing (possibly incomplete) group across
   Arrow-batch boundaries, and hands the kernel a whole batch of groups
   at once: ``kernel(pdf, starts, ends) -> pd.DataFrame``.

The kernel builds ONE output frame per ~10k-row Arrow batch (dozens of
groups) instead of one per group.  Per-group overhead drops to the
boundary bookkeeping (~µs), and the Arrow round-trip count drops from
#groups to #batches.

Correctness contract (property-tested equal to ``applyInPandas`` in
``tests/test_groupmap.py``, including tiny Arrow batches that force
multi-batch carry-over):

- hash partitioning puts every row of a group in one partition, so a
  group is never split ACROSS partitions — only across Arrow batches
  within one, which the carry-over handles;
- the trailing group of every batch is held back until the next batch
  proves it complete (or the partition ends), so a kernel sees each
  group exactly once, whole;
- the operator fixes its own partition count (:func:`hash_partition`:
  ``repartition(n, *keys)`` with ``n = spark.sql.shuffle.partitions``).
  AQE sizes shuffle partitions by bytes, but a grouped map's cost is
  Python time per group: a model stage is small in bytes and heavy in
  Python, so byte-based coalescing folded it into ONE task on one core.
  A ``REPARTITION_BY_NUM`` exchange is one AQE neither coalesces nor
  splits, so every key-group stays whole in one of exactly ``n`` tasks.

At 100 TB: same shuffle volume as ``applyInPandas`` (one exchange on the
keys — or zero when ``pre_partitioned``), strictly less Python overhead,
and the sort is the one ``applyInPandas`` already performs internally
(extended by ``order_cols``, which replaces a per-group Python sort).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

#: kernel(batch, starts, ends) -> output frame; group i of the batch is
#: ``batch.iloc[starts[i]:ends[i]]`` (positional, contiguous, time-ordered).
BatchKernel = Callable[[pd.DataFrame, np.ndarray, np.ndarray], pd.DataFrame]


def group_starts(pdf: pd.DataFrame, keys: Sequence[str]) -> np.ndarray:
    """Start positions of the contiguous key-groups of ``pdf`` (which must
    be sorted/clustered by ``keys``).  Null-safe: NaN == NaN for grouping
    purposes, matching SQL GROUP BY semantics.

    Boundaries are found by POSITIONAL comparison of the raw arrays —
    never ``shift()``, whose int64→float64 upcast makes surrogate keys
    ≥ 2**53 that differ only in low bits compare EQUAL, silently fusing
    two groups into one (wrong results for both at the ~1M-group scale
    this module exists for)."""
    n = len(pdf)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for k in keys:
        a = pdf[k].to_numpy()  # dtype-preserving: int64 stays int64
        isna = pd.isna(a)
        raw = a[1:] != a[:-1]
        if isna.any():
            # SQL GROUP BY null semantics: null == null, null != value.
            # Masking BEFORE astype also neutralizes pd.NA comparisons,
            # which return pd.NA instead of a bool.
            neq = np.where(
                isna[1:] & isna[:-1],
                False,
                np.where(isna[1:] ^ isna[:-1], True, raw),
            ).astype(bool)
        else:
            neq = np.asarray(raw, dtype=bool)
        change[1:] |= neq
    return np.nonzero(change)[0].astype(np.int64)


def _batched_group_gen(
    batches: Iterator[pd.DataFrame],
    keys: Sequence[str],
    kernel: BatchKernel,
) -> Iterator[pd.DataFrame]:
    """Drive ``kernel`` over complete groups, carrying the trailing group
    of each Arrow batch into the next (it may continue there)."""
    # fragments of the (possibly batch-spanning) trailing group: kept as
    # a LIST and concatenated once per flush — re-concatenating the
    # accumulated prefix on every batch would cost O(k²) row copies for
    # a group spanning k Arrow batches
    pending: list[pd.DataFrame] = []
    for pdf in batches:
        if len(pdf) == 0:
            continue
        starts = group_starts(pdf, keys)
        if pending:
            # the seam (last carried row vs this batch's first) decides
            # whether the carry continues without touching the fragments
            seam = pd.concat(
                [pending[-1].iloc[-1:], pdf.iloc[:1]], ignore_index=True
            )
            if len(group_starts(seam, keys)) == 1 and len(starts) == 1:
                pending.append(pdf)  # O(1): still one unbroken group
                continue
            pdf = pd.concat([*pending, pdf], ignore_index=True)
            pending = []
            starts = group_starts(pdf, keys)
        if len(starts) == 1:
            # the whole batch is one group — keep accumulating until a
            # new key or the partition end shows up
            pending = [pdf]
            continue
        cut = int(starts[-1])  # trailing group: fate unknown until next batch
        pending = [pdf.iloc[cut:].reset_index(drop=True)]
        body = pdf.iloc[:cut]
        ends = np.append(starts[1:-1], cut).astype(np.int64)
        out = kernel(body, starts[:-1], ends)
        if out is not None and len(out):
            yield out
    if pending:
        tail = (
            pending[0]
            if len(pending) == 1
            else pd.concat(pending, ignore_index=True)
        )
        starts = group_starts(tail, keys)
        ends = np.append(starts[1:], len(tail)).astype(np.int64)
        out = kernel(tail, starts, ends)
        if out is not None and len(out):
            yield out


def _drop_zip_importers() -> None:
    """Forget every cached ``zipimport.zipimporter`` path finder.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``), and since Python
    3.10 each cached zipimporter then re-reads its whole archive
    directory.  A reused worker holds about 16 of them: the spark-core
    jar (5,359 entries, ~23 ms per re-read), ``pyspark.zip`` (1,328
    entries, ~9 ms) and one per pyspark subpackage imported from the
    zip.  In a weekly retrain (4 cores) each task spent 0.21-0.41 s
    there against 0.06-0.10 s in its kernel.  Dropping the finders when
    a task ends leaves the next task nothing to re-read; an import from
    the zip later re-creates its finder through ``sys.path_hooks``, which
    reuses zipimport's parsed-directory cache.  Imported modules keep
    their loaders and stay usable."""
    import sys
    import zipimport

    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            sys.path_importer_cache.pop(path, None)


def hash_partition(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Hash-partition ``df`` on ``keys`` into exactly
    ``spark.sql.shuffle.partitions`` partitions (see module doc: AQE
    leaves an explicit-count exchange as it is).  A downstream
    ``groupBy(*keys)`` reuses this exchange rather than adding one."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *keys)


def sorted_group_map(
    df: DataFrame,
    keys: Sequence[str],
    kernel: BatchKernel,
    schema,
    *,
    order_cols: Sequence[str] = (),
    pre_partitioned: bool = False,
) -> DataFrame:
    """Grouped map with batch-amortized Python overhead (see module doc).

    ``pre_partitioned=True`` asserts the caller already hash-partitioned
    ``df`` on a (non-empty) SUBSET of ``keys`` — e.g. via an upstream
    ``repartition(*keys)`` that also feeds an aggregate — and skips the
    exchange entirely; the partition-local sort still runs.  A subset is
    the safe direction: partitioning on FEWER columns co-locates every
    row of each key-group (coarser buckets), while a strict SUPERSET
    would scatter one group across partitions and silently corrupt
    boundaries.  Opt-in; the ML callers that use it cite the exchange
    they reuse (they partition on exactly ``keys``)."""
    keys = list(keys)
    part = df if pre_partitioned else hash_partition(df, keys)
    ordered = part.sortWithinPartitions(*keys, *order_cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            yield from _batched_group_gen(batches, keys, kernel)
        finally:
            _drop_zip_importers()

    return ordered.mapInPandas(run, schema)
