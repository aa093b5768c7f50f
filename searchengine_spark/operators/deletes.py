"""Document deletion: tombstones at query time, per-shard physical purge.

The reference engine has no delete path at all (its index files are
write-once: SearchEngine Indexer/Program.cs builds, Engine serves). At
10^12 turns an engine must delete (takedowns, dedup verdicts, PII) —
this module adds the standard segment-store treatment (the same shape
Lucene uses: deleted docs are masked at query time immediately, and
removed physically when their segment is rewritten):

- **Tombstone mask** (query time, O(|deletes|)): excluded doc_ids are
  masked inside the per-shard scoring kernel before top-k selection;
  the top-k fills with the next best live docs, rank-identical to
  scoring the corpus without them.
  The exhaustive path anti-joins the tf rows instead.
- **Physical purge** (compaction time, cost ∝ affected shards): only
  shards containing tombstoned docs are decoded, filtered, and
  re-encoded (same shard boundaries, same avgdl); untouched shards
  pass through byte-identical. Block maxes of rewritten shards are
  recomputed on the surviving postings — still admissible, strictly
  tighter.

Stats semantics (pinned, Lucene-style): df/cf/N/avgdl remain the
build-time values until a full rebuild — so a purge changes WHICH docs
can match, never how the survivors score. That makes the core identity
testable and oracle-checkable:

    search(purged index)  ==  search(original index, exclude=tombstones)
                          ==  BM25-with-original-stats over the corpus
                              minus the deleted docs
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from searchengine_spark.operators.segments import (
    DEFAULT_DF_TARGET,
    build_doc_segments,
    build_term_segments,
    segments_to_tf,
)


def shard_size_for(n_docs: int, n_shards: int) -> int:
    """The build's shard-width rule (segments.py build_doc_segments) —
    purge must reproduce it exactly so rewritten rows land in the same
    shards."""
    return max(1, math.ceil(max(n_docs, 1) / n_shards))


def affected_shards(tombstones: set[int], shard_size: int) -> set[int]:
    return {int(d) // shard_size for d in tombstones}


def purge_doc_segments(
    segments: DataFrame,
    tombstones: set[int],
    n_docs: int,
    avgdl: float,
    n_shards: int,
) -> DataFrame:
    """Rewrite ONLY the shards containing tombstoned docs; every other
    segment row passes through untouched. ``n_docs``/``avgdl``/
    ``n_shards`` are the BUILD-time values (stats are pinned until
    rebuild — see module docstring)."""
    if not tombstones:
        return segments
    shard_size = shard_size_for(n_docs, n_shards)
    aff = sorted(affected_shards(tombstones, shard_size))
    touched = segments.filter(F.col("shard").isin(aff))
    untouched = segments.filter(~F.col("shard").isin(aff))
    survivors = segments_to_tf(touched).filter(
        ~F.col("doc_id").isin([int(d) for d in tombstones])
    )
    rebuilt = build_doc_segments(
        survivors, term_stats=None, n_docs=n_docs, avgdl=avgdl,
        n_shards=n_shards,
    )
    return untouched.unionByName(rebuilt)


def purge_term_segments(
    segments: DataFrame,
    tombstones: set[int],
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    df_target: int = DEFAULT_DF_TARGET,
) -> DataFrame:
    """Physical purge of the TERM-partitioned layout.

    Unlike the doc layout there is no doc-locality to exploit: a doc's
    postings are scattered across every term it contains, so the purge is
    a decode -> filter -> re-encode compaction of the layout (exactly
    what the incremental path's ``compact`` does with its tombstones).
    Stats stay pinned; block maxes are recomputed on survivors (strictly
    tighter, still admissible). Re-encoding may re-salt with the given
    ``df_target`` — queries fetch all (term, salt) rows, so the salt
    layout is not part of the contract."""
    if not tombstones:
        return segments
    survivors = segments_to_tf(segments).filter(
        ~F.col("doc_id").isin([int(d) for d in tombstones])
    )
    return build_term_segments(
        survivors, term_stats, n_docs, avgdl, df_target=df_target
    )


def exclude_tf(
    tf_table: DataFrame, tombstones: set[int] | DataFrame
) -> DataFrame:
    """Exhaustive-path mask: drop tombstoned docs' tf rows before
    scoring. For driver-sized delete sets an isin filter compiles to a
    pushed-down IN; a DataFrame of ids (the cluster-scale form) becomes
    a left_anti join — same semantics, never driver-materialized."""
    if isinstance(tombstones, DataFrame):
        return tf_table.join(
            tombstones.select("doc_id").distinct(), "doc_id", "left_anti"
        )
    if not tombstones:
        return tf_table
    return tf_table.filter(
        ~F.col("doc_id").isin([int(d) for d in tombstones])
    )
