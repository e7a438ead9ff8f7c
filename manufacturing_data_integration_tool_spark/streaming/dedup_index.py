"""Streaming incremental MinHash-LSH dedup index.

Greenfield LLM-pipeline capability: production corpora grow by crawl
batches, and re-running dedup over the WHOLE corpus per batch is an
O(corpus) scan every time. The LSH index makes dedup incremental: keep
the (signature, band-tag) tables of everything seen so far at rest;
for each new micro-batch, compute only the BATCH's signatures, band-join
them against the at-rest tags (new-vs-old) and against themselves
(new-vs-new), emit the candidate pairs, and append the batch's rows to
the index. The union of emitted pairs over all batches equals exactly
what the one-shot batch ``minhash_candidates`` would produce on the
full corpus (every pair is emitted in the batch where its LATER member
arrives; both-in-one-batch pairs come from the in-batch self-join).
Pinned by ``tests/test_streaming.py``.

Cost model, stated precisely: the expensive part — tokenizing, shingling
and hashing the TEXT — runs once per document, on its arrival batch
only. The at-rest index (narrow (doc, sig) / (doc, band, key) rows) IS
read on every batch as the probe side of the band join and the
signature fetch; that read is linear in corpus size, not quadratic, and
is the part a production layout prunes: write ``tags/`` bucketed by
band key (``functions.layout.write_bucketed``) so the join touches only
colliding buckets, and ``sigs/`` bucketed by doc id so the pair-scoring
fetch is a bucket-pruned lookup rather than a full scan.

Idempotence: every sink write goes to a ``batch=<id>`` subdirectory with
``overwrite`` mode, so a replayed micro-batch (foreachBatch is
at-least-once) rewrites its own partition instead of duplicating rows —
the standard plain-parquet exactly-once recipe for idempotent batch ids.
On the READ side, a replayed batch excludes its own ``batch=<id>``
partition from the at-rest index (it must not band-join against its own
previous write), and the index gate requires BOTH ``sigs/`` and
``tags/`` to exist so a crash between the two writes cannot strand a
half-index that breaks the replay.

100 TB posture: the at-rest index is (doc, sig) + (doc, band, key) —
O(corpus) rows but narrow, partitioned by arrival batch; the band join
is the same shuffled equi-join as the batch path (AQE-skew-splittable),
with the NEW side always micro-batch-sized. Compact the index
partitions periodically with ``functions.layout.compact_small_files``.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, functions as F

from ..ops.dedup import minhash_band_tags, minhash_signatures
from .sketches import start_checkpointed

__all__ = ["accumulate_minhash_index_stream"]


def accumulate_minhash_index_stream(
    docs: DataFrame,
    index_path: str,
    pairs_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 48,
    bands: int = 12,
    max_distance: float = 0.4,
    hash_family: str = "xxhash64",
    checkpoint_dir: str,
):
    """Start a stream maintaining the LSH index under ``index_path``
    (``sigs/`` + ``tags/`` parquet tables) and appending candidate pairs
    (doc_a, doc_b, jaccard_dist) under ``pairs_path``.

    Pair identity: ``doc_a < doc_b`` regardless of arrival order, and
    the signature-estimated distance is computed from the same
    signatures the batch operator uses, so streaming output values are
    identical to ``minhash_candidates`` on the accumulated corpus.

    Returns the StreamingQuery, which drains the input present at start
    and then stops.
    """
    root = Path(index_path)
    sigs_dir = root / "sigs"
    tags_dir = root / "tags"

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        new_sigs = minhash_signatures(
            batch, id_col, text_col, n=n, num_hashes=num_hashes,
            hash_family=hash_family,
        ).localCheckpoint()
        new_tags = minhash_band_tags(
            new_sigs, num_hashes=num_hashes, bands=bands, hash_family=hash_family
        ).localCheckpoint()

        nn = (
            new_tags.alias("a")
            .join(
                new_tags.alias("b"),
                (F.col("a.__band") == F.col("b.__band"))
                & (F.col("a.__bh") == F.col("b.__bh"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        )
        # Replay discipline (r7): gate on BOTH tables (a crash between the
        # sigs and tags writes must not leave a half-index that breaks the
        # replay's read), and exclude the CURRENT batch_id's partitions
        # from the "old" side — a replayed batch must never see its own
        # previous (partial or complete) write as at-rest index, or it
        # would emit duplicate pairs / duplicate (doc, sig) rows.
        have_index = sigs_dir.exists() and tags_dir.exists()
        if have_index:
            old_tags = (
                spark.read.parquet(str(tags_dir))
                .filter(F.col("batch") != batch_id)
                .drop("batch")
            )
            no = (
                old_tags.alias("o")
                .join(
                    new_tags.alias("n"),
                    (F.col("o.__band") == F.col("n.__band"))
                    & (F.col("o.__bh") == F.col("n.__bh")),
                )
                .select(
                    F.least(F.col("o.doc"), F.col("n.doc")).alias("doc_a"),
                    F.greatest(F.col("o.doc"), F.col("n.doc")).alias("doc_b"),
                )
                .filter(F.col("doc_a") != F.col("doc_b"))
            )
            cand = nn.unionByName(no).distinct()
            all_sigs = (
                spark.read.parquet(str(sigs_dir))
                .filter(F.col("batch") != batch_id)
                .drop("batch")
                .unionByName(new_sigs)
                # signatures are deterministic per doc; dedup is belt-and-
                # braces against any historical double-write
                .dropDuplicates(["doc"])
            )
        else:
            cand = nn.distinct()
            all_sigs = new_sigs

        sa = all_sigs.select(F.col("doc").alias("doc_a"), F.col("sig").alias("__sa"))
        sb = all_sigs.select(F.col("doc").alias("doc_b"), F.col("sig").alias("__sb"))
        matches = F.aggregate(
            F.zip_with("__sa", "__sb", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        est_dist = F.lit(1.0) - matches.cast("double") / F.lit(float(num_hashes))
        pairs = (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select("doc_a", "doc_b", est_dist.alias("jaccard_dist"))
            .filter(F.col("jaccard_dist") <= max_distance)
        )
        # idempotent per-batch partitions: a replayed batch overwrites its
        # own subdirectory instead of appending duplicates. tags is written
        # before sigs so the have_index gate (sigs AND tags) can only pass
        # once the pair-join inputs are complete.
        pairs.write.mode("overwrite").parquet(f"{pairs_path}/batch={batch_id}")
        new_tags.write.mode("overwrite").parquet(f"{tags_dir}/batch={batch_id}")
        new_sigs.write.mode("overwrite").parquet(f"{sigs_dir}/batch={batch_id}")

    return start_checkpointed(docs.writeStream.foreachBatch(process_batch), checkpoint_dir)
