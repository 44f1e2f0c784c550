"""Bounded driver path: the one gate shared by every dual-path operator.

A dual-path operator runs its algorithm in numpy on the driver when its
input is small, and as a distributed plan above a size cap. On a small
input the distributed plan costs mostly fixed overhead (Python worker
start-up, shuffles, one scheduled job per stage) for work one core
finishes in milliseconds.

:func:`bounded_collect` decides and feeds the small case: the rows come
back as a ``pyarrow.Table`` (columnar buffers, never ``Row`` objects),
or the call returns ``None`` and the operator builds its distributed
plan unchanged. Fixed-width rows need one ``limit(cap + 1)`` collect.
Variable-width rows (documents) first collect only each row's byte
size under the same limit, and the rows themselves only when the total
fits, so an oversized result never reaches the driver. Above the cap
the limited scan stops early. Every dual-path gate goes through this
function, and each operator's distributed branch is pinned equal to
its driver branch by a test (``tests/test_bounded.py``).

Caps. The driver branch's working set stays within :data:`DRIVER_BYTES`
(64 MiB): a fixed-width operator's row cap is ``DRIVER_BYTES`` over its
bytes per row (:func:`row_cap`); a variable-width one passes its
per-row bytes to the gate. ``minhash_lsh_dedup`` also bounds the
candidate pairs its band buckets would expand to (``dedup.PAIR_CAP``,
another ``DRIVER_BYTES``), counted from the bucket sizes before a pair
is built: a mega-bucket of boilerplate documents goes distributed.

Crossover, measured at local[4] (4 vCPUs) on the sf0.1 fixtures scaled
up with near-duplicates: replica k > 0 of each document is, with
probability 0.3, a near-duplicate of it (5% of tokens replaced), else
a disjoint rewrite (every token suffixed); replica k of each vector is
the vector plus N(0, 0.05) noise with probability 0.3, else a sign and
axis permutation. "With boilerplate" sets 1% of the documents to one
text, one bucket of N/100 documents in every band. The documents keep
the fixtures' measured lengths: 54 tokens on average, 90 at the 90th
percentile, at most 100. Wall seconds per call, driver / distributed
branch, best of two alternating runs in one warm session, written to a
noop sink; driver caps and budgets lifted so the driver branch runs at
every size. Working set: the gate's estimate / numpy peak
(``tracemalloc``) of the driver branch, MiB
(``tools/bounded_crossover.py`` regenerates the inputs and the table):

==============================  ===========  ===========  ===========  ===========
documents                       5,000        20,000       40,000       80,000
==============================  ===========  ===========  ===========  ===========
``dedup_minhash`` shape         0.99 / 2.63  2.86 / 4.37  4.68 / 6.83  7.55 / 14.4
  working set, MiB              7.2 / 6.1    28.9 / 25.5  57.8 / 53.8  116 / 116
  summed band pairs             11,786       148,038      430,159      1,294,784
with boilerplate               0.98 / 2.46  2.28 / 3.84  6.43 / 7.47  12.3 / 11.1
  working set, MiB              7.2 / 6.6    28.7 / 36.1  57.5 / 96.4  115 / 288
  summed band pairs             50,656       781,950      2,975,599    11,498,393
vectors (dim 64)                2,000        8,000        16,000       32,000
``emb_near_dup`` shape          0.36 / 1.94  0.69 / 5.36  3.01 / 19.7  9.12 / 59.1
==============================  ===========  ===========  ===========  ===========

The driver branch won everywhere except on the 80,000 documents with
boilerplate, where its 11.5M band pairs cost 11% more than the
distributed branch. So memory sets every cap, and each cap sits below
the time crossover. The documents' gate estimate bounds their numpy
peak until the band pairs grow; ``PAIR_CAP`` (2.1M pairs at 32 bytes,
about twice the 14-16 bytes a pair measured above) bounds those
separately and lies below the pair crossover, between 3.0M and 11.5M.
The branch holds at most two budgets, the documents' working set and
the candidate pairs. At the default caps the corpora above take the
driver branch up to 40,000 documents, except the 40,000 with
boilerplate (3.0M band pairs, distributed: 7.47 s instead of 6.43 s).

Dual-path operators and their default caps:

* ``dedup.dup_clusters`` and ``dedup.dup_cluster_sizes`` —
  ``dedup.UNION_FIND_CAP`` = 100,000 pairs (:func:`union_find`);
  ``graph.pair_graph_stats`` gates on the same cap, with no
  ``driver_threshold``; all three gate through :func:`gate_pairs`,
  which persists the pairs so their upstream runs once;
* ``similarity.embedding_near_dup_pairs`` — ``row_cap(4 * (5 * dim +
  4 * n_planes))`` vectors: 29,127 at dim 64 with 64 planes (float64
  vectors and their normalized copy, the float32 collected copy,
  projections and sign bits), plus one 8 MiB Gram block;
  wrong-length vectors are nulled before the collect, so rows stay
  fixed-width;
* ``dedup.minhash_lsh_dedup`` — ``dedup.DOC_CAP`` = 44,384 documents,
  the count at which documents of the fixtures' mean length fill
  ``DRIVER_BYTES``, and at most ``DRIVER_BYTES`` of working set (16
  bytes a token plus 8 a signature value and a fixed 136) and
  ``dedup.PAIR_CAP`` = 2,097,152 summed band pairs;
* ``graph.pagerank`` — ``row_cap(256)`` = 262,144 edges (collected ids
  and weight, node lookup, index and rank arrays); string or binary
  ids add twice their bytes, passed as ``row_bytes``;
* ``logreg.train_text_classifier`` — ``row_cap(80 + 40 * 54)`` =
  29,959 labeled documents of the fixtures' mean length, and at most
  ``DRIVER_BYTES`` of working set (40 bytes a bucket instance plus 80 a
  document, passed as ``row_bytes``);
* ``decontaminate.embedding_contamination`` — ``row_cap(32 * dim)``
  benchmark vectors: 32,768 at dim 64 (the collected, float64,
  normalized and task-shipped copies); wrong-length vectors are nulled
  before the collect.

Every operator but ``pair_graph_stats`` takes the cap as
``driver_threshold``; 0 forces the distributed branch without running
a gate job. Each decision is
logged at INFO on this module's logger, one line naming the operator,
the branch and the measured size against the cap.
"""

from __future__ import annotations

import logging

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame

from meta_frame_spark.operators.cache import track

log = logging.getLogger(__name__)

#: Driver memory one bounded branch may hold: the collected buffers plus
#: the numpy working set built from them.
DRIVER_BYTES = 64 << 20


def row_cap(row_bytes: int) -> int:
    """Rows whose driver working set, at ``row_bytes`` each, fits
    :data:`DRIVER_BYTES`."""
    return max(1, DRIVER_BYTES // row_bytes)


def bounded_collect(
    df: DataFrame, cap: int, op: str, row_bytes: Column | None = None
) -> pa.Table | None:
    """``df``'s rows as an Arrow table if there are at most ``cap`` of
    them and they fit :data:`DRIVER_BYTES`, else ``None``. ``cap <= 0``
    runs no job and returns ``None``. ``op`` names the calling operator
    in the log line.

    Fixed-width rows need one ``limit(cap + 1)`` collect: ``cap`` rows
    of them are bounded by construction. For variable-width rows pass
    ``row_bytes``, a column giving each row's driver working set in
    bytes: a first ``limit(cap + 1)`` job collects only that column (4-8
    bytes a row) and the rows themselves are collected only when both
    the count and the byte total fit, so no oversized result ever
    reaches the driver."""
    if cap <= 0:
        log.info("%s: distributed path, driver_threshold=%d", op, cap)
        return None
    head = df.limit(cap + 1)
    if row_bytes is not None:
        sizes = df.select(row_bytes.alias("_bytes")).limit(cap + 1).toArrow()
        if sizes.num_rows > cap:
            log.info("%s: distributed path, > %d rows", op, cap)
            return None
        nbytes = pc.sum(sizes.column(0)).as_py() or 0
        if nbytes > DRIVER_BYTES:
            log.info(
                "%s: distributed path, %d rows need %d bytes > %d",
                op, sizes.num_rows, nbytes, DRIVER_BYTES,
            )
            return None
    table = head.toArrow()
    if table.num_rows > cap:
        log.info("%s: distributed path, > %d rows", op, cap)
        return None
    if table.nbytes > DRIVER_BYTES:
        log.info(
            "%s: distributed path, %d rows hold %d bytes > %d",
            op, table.num_rows, table.nbytes, DRIVER_BYTES,
        )
        return None
    log.info("%s: driver path, %d rows <= %d", op, table.num_rows, cap)
    return table


def gate_pairs(pairs: DataFrame, cap: int, op: str) -> tuple[DataFrame, pa.Table | None]:
    """The gate of the pair operators: :func:`bounded_collect` over
    ``pairs``'s ``(id_a, id_b)``. The gate's job runs every stage of the
    pairs' upstream (the MinHash/LSH shuffles), and every distributed
    branch reads the pairs more than once, so ``pairs`` is persisted
    first (tracked, see :mod:`.cache`) and released again on the driver
    branch. Returns the frame the distributed branch reads, and the
    gate's table or ``None``."""
    pairs = track(pairs.persist())
    local = bounded_collect(pairs.select("id_a", "id_b"), cap, op)
    if local is not None:
        pairs.unpersist()
    return pairs, local


def union_find(a_ids, b_ids, op: str) -> dict:
    """Connected components of the edges ``zip(a_ids, b_ids)`` on the
    driver: ``{node: root}`` where the root is the minimum id reachable
    from the node, the label the distributed min-label propagation
    converges to. Path halving, union by min id. A null id raises
    ``ValueError`` naming ``op``."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in zip(a_ids, b_ids):
        if a is None or b is None:
            raise ValueError(f"{op}: null id in dup pair ({a!r}, {b!r})")
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id so the root IS the cluster label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}
