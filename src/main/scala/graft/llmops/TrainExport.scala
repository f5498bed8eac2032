package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sharded training-data export — the LAST stage of the pipeline,
  * where a cleaned corpus becomes the artifact a trainer's data
  * loader actually reads: a per-epoch deterministic shuffle into
  * `nShards` independent shards, exact sequence packing WITHIN each
  * shard, a shard-partitioned fragment table, and a manifest row per
  * shard. (The reference stops at storing parsed documents —
  * `/root/reference/README.md:17` — this is the training-data
  * extension brief's layout step, like [[Packing]].)
  *
  * Why shard-first instead of one global stream: [[Packing]]'s
  * single-stream layout needs a corpus-wide document order — a global
  * range sort. A training loader doesn't: it reads shards in any
  * order, each shard an independent token stream (every large-scale
  * loader works this way — shards ARE the unit of shuffling,
  * checkpointing, and worker assignment). Sharding first makes the
  * epoch shuffle embarrassingly parallel: the only window runs
  * `partitionBy(shard)` over slim (id, n_toks) rows — no global sort
  * anywhere, and shard parallelism is the caller's `nShards` knob
  * (size shards so one shard's DOC rows fit a task: even 10B docs
  * over 10k shards is 1M slim rows per partition). The cost is one
  * possibly-short tail sequence PER SHARD rather than one per corpus
  * — noise at any real shard size.
  *
  * Everything is a pure function of (corpus, seed, seqLen, nShards):
  * the shuffle key is `md5(id ++ seed)` ([[Splits.shuffleKey]] — a new
  * seed per epoch gives a fresh order with no RNG), the shard is the
  * key's first 16 bits mod `nShards`, and the within-shard order is
  * (key, id) — totally ordered, so reruns and repartitions are
  * bit-identical and any engine can replay the whole layout
  * relationally (the q144 oracle recomputes every fragment of the
  * written export from the documents table alone).
  */
object TrainExport {

  /** The per-epoch fragment table: one row per (document, overlapped
    * sequence) with the same tiling contract as
    * [[Packing.packSequences]], but per shard:
    * (shard, seq_id, doc_id, doc_offset, seq_offset, n_toks).
    * Sequence ids start at 0 within each shard; fragments tile every
    * sequence exactly (no gaps, no padding; the one per-shard tail
    * sequence excepted) and every document completely. Zero-token
    * documents are dropped (they occupy no stream span). Document ids
    * must be unique — they are the order tiebreak and the loader's
    * join key back to the corpus (or its tokenized form).
    */
  def epochFragments(docs: DataFrame, seqLen: Int, nShards: Int,
                     seed: String = "epoch-0",
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(seqLen >= 1, "seqLen must be >= 1")
    require(nShards >= 1, "nShards must be >= 1")
    // a string-keyed corpus would silently null every doc_id under the
    // cast below, producing a corrupt (null-id, order-unstable) export
    // — fail loudly instead
    TopK.requireIntegralId(docs, idCol, "TrainExport.epochFragments")
    val L = seqLen.toLong
    val keyed = docs.select(col(idCol).cast("long").as("doc_id"),
        TextFuncs.tokenCount(col(textCol)).cast("long").as("n_toks"))
      .filter(col("n_toks") >= 1)
      .withColumn("__k",
        Splits.shuffleKey(col("doc_id").cast("string"), seed))
      .withColumn("shard",
        pmod(conv(substring(col("__k"), 1, 4), 16, 10).cast("long"),
          lit(nShards.toLong)))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__k"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    keyed
      .withColumn("__st", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .select(col("shard"), col("doc_id"), col("n_toks"), col("__st"),
        explode(sequence(Packing.floorDiv(col("__st"), L),
          Packing.floorDiv(col("__st") + col("n_toks") - 1, L)))
          .as("seq_id"))
      .select(col("shard"), col("seq_id"), col("doc_id"),
        greatest(col("seq_id") * L - col("__st"), lit(0L))
          .as("doc_offset"),
        greatest(col("__st") - col("seq_id") * L, lit(0L))
          .as("seq_offset"),
        (least(col("__st") + col("n_toks"), (col("seq_id") + 1) * L) -
          greatest(col("__st"), col("seq_id") * L)).as("n_toks"))
  }

  /** Write one epoch's export under `path`: `path/fragments`
    * (parquet PARTITIONED BY shard — a loader worker reads exactly its
    * shards' directories, nothing else; the repartition before the
    * write lands each shard as one file, not tasks×shards slivers),
    * `path/manifest` (one row per shard: n_seqs, n_docs, n_tokens —
    * the numbers a loader needs to plan an epoch without scanning
    * fragments), and `path/params` (seq_len, n_shards, seed — the
    * replay contract). Deterministic end to end: the same corpus,
    * seed, and knobs produce byte-identical fragment rows on any
    * cluster.
    */
  def writeShards(docs: DataFrame, path: String, seqLen: Int,
                  nShards: Int = 64, seed: String = "epoch-0",
                  idCol: String = "doc_id",
                  textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    epochFragments(docs, seqLen, nShards, seed, idCol, textCol)
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$path/fragments")
    // manifest from the WRITTEN files: it must describe what landed,
    // not what the plan intended — and the read-back is one slim scan
    spark.read.parquet(s"$path/fragments")
      .groupBy(col("shard"))
      .agg((max(col("seq_id")) + 1).as("n_seqs"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/manifest")
    Seq((seqLen, nShards, seed)).toDF("seq_len", "n_shards", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** Takedown blast radius over a written export (SURVEY §2.10 X120):
    * given document ids to remove (a takedown request, a
    * decontamination hit list), report every training sequence that
    * contained any of them — the exact set a trainer must mask,
    * re-pack, or attribute. This is the provenance direction X113's
    * index deletion cannot answer: the fragment table IS the
    * doc→sequence lineage, so the answer is one slim scan, no text.
    *
    * Scale shape: fragments are slim (shard, seq_id, doc_id, n_toks)
    * rows and unique per (seq, doc) by the tiling contract, so one
    * left join against the doomed-id list (takedown lists are
    * bounded — broadcast) and one groupBy produce both the doomed and
    * the total token mass per sequence in a single pass; a doc's shard
    * is a hash of (id, seed), so no partition pruning applies — the
    * full (slim) fragment scan is the honest cost.
    *
    * @return one row per affected sequence: (shard, seq_id,
    *         doomed_docs, doomed_toks, seq_toks, doomed_frac)
    */
  def affectedSequences(s: SparkSession, path: String,
                        docIds: DataFrame): DataFrame = {
    // same loud id contract as epochFragments: a string-id takedown
    // list would cast to all-null and silently report ZERO affected
    // sequences — the worst possible failure for a takedown audit
    TopK.requireIntegralId(docIds, "doc_id", "TrainExport.affectedSequences")
    val ids = docIds.select(col("doc_id").cast("long").as("doc_id"))
      .distinct().withColumn("__dm", lit(1))
    s.read.parquet(s"$path/fragments")
      .join(broadcast(ids), Seq("doc_id"), "left")
      .groupBy(col("shard").cast("long").as("shard"), col("seq_id"))
      .agg(sum(coalesce(col("__dm"), lit(0))).as("doomed_docs"),
        sum(when(col("__dm") === 1, col("n_toks")).otherwise(0L))
          .as("doomed_toks"),
        sum(col("n_toks")).as("seq_toks"))
      .filter(col("doomed_docs") > 0)
      .withColumn("doomed_frac",
        col("doomed_toks").cast("double") / col("seq_toks"))
  }

  /** Per-shard integrity manifest (X175): for each shard, the row
    * count plus the X126 order-free fingerprints (48-bit XOR + 32-bit
    * SUM of md5 slices over `cols`) — the receipt a training site
    * recomputes after transfer to prove every shard arrived complete
    * and bit-identical, without any row ordering assumption (shards
    * are read in arbitrary order by design). A corrupted, truncated,
    * or double-shipped shard flips its row; the manifest is
    * ≤ nShards rows however large the export.
    *
    * Same null contract as [[graft.ops.Profiling.contentDigest]]:
    * concat_ws skips nulls, so a null column and an absent one are
    * indistinguishable — digest physical columns. One projection +
    * one groupBy on the shard key (uniform by construction: shards
    * are hash-assigned).
    */
  def shardManifest(export: DataFrame, shardCol: String,
                    cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column to digest")
    val h = md5(concat_ws("", cols.map(col): _*))
    export.select(col(shardCol).cast("long").as("shard"),
        conv(substring(h, 9, 12), 16, 10).cast("long").as("__h48"),
        conv(substring(h, 21, 8), 16, 10).cast("long").as("__h32"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(__h48)").as("xor48"),
        sum(col("__h32")).as("sum32"))
  }
}
