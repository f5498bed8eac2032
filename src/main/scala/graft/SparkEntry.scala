package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one entry per implemented operator from SURVEY.md §2,
  * each with a DuckDB-equivalent oracle in [[oracleSql]]. Column names are
  * aliased identically on both sides (the driver's compare sorts columns
  * by name before hashing).
  */
object SparkEntry {

  private def t(s: SparkSession, d: String, name: String): DataFrame =
    Tables.table(s, d, name)

  /** Dump a deterministic intermediate (sketch, fingerprint, bucket
    * assignment) to spark-warehouse for the DuckDB oracle to read back
    * via read_parquet — the kernels themselves have no SQL analog, but
    * everything downstream of them (bucket join, hot-bucket cap,
    * verify, threshold) is relational and oracle-checkable once the
    * sketches are on disk. Only active under graft.Verify
    * (-Dgraft.materialize): Bench skips the write so timed runs stay
    * pure compute.
    */
  private def materializing: Boolean =
    sys.props.get("graft.materialize").contains("1")

  private def materialize(df: DataFrame, name: String): Unit =
    if (materializing)
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"/root/repo/spark-warehouse/$name")

  /** Queries whose wall time is dominated by an index/trainer
    * LIFECYCLE (full build + serve of a persisted artifact, a model
    * retrain, or a tuning grid of serves) rather than one serving
    * pass. The bench JSON tags them and reports `total_ex_lifecycle`
    * alongside `total`, so the 2x-of-baseline contract math
    * (BASELINE.md's "suite average excluding…" prose) is
    * machine-readable instead of narrative.
    */
  val lifecycleQueries: Set[String] = Set(
    "q100_dsir_select",       // DSIR ratio-table retrain per pass
    "q110_ann_append",        // index write + append + drift probe
    "q135_retrieval_serve",   // chunk/embed/train/write + serve
    "q136_bm25_index_serve",  // lexical index write + append + serve
    "q138_rm3_expansion",     // two full BM25 passes + feedback model
    "q143_bm25_index_delete", // write + delete + compact + re-serve
    "q170_hybrid_tuning")     // index build + 4-cell serve grid

  /** Flagship: the engine's distinctive path — parse the reference's
    * committed link fixture (S3 line-format scan) and run the
    * latest-quarter report selection (U5→A2→W4), the core semantics of
    * the whole pipeline. Driver smoke-checks rows>0 (35 reports).
    * Falls back to q01 when the fixture isn't present.
    */
  def entry(spark: SparkSession): DataFrame = {
    val path = "/root/reference/ir_links/financial_links_3M.txt"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
      val links = graft.io.LineFormats.readLinks(spark, path)
      graft.pipeline.Extract.latestQuarterReports(links, maxYear = 2025)
        .orderBy(col("url"))
    } else
      queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A4/A1: classic partial+final hash aggregation (TPC-H Q1 shape).
    "q01_pricing_summary" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity").as("sum_qty"),
          sum($"l_extendedprice").as("sum_base_price"),
          sum($"l_extendedprice" * (lit(1) - $"l_discount")).as("sum_disc_price"),
          avg($"l_quantity").as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // P1: IN-list predicate + aggregation.
    "q02_segment_filter" -> ((s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .filter($"c_mktsegment".isin("BUILDING", "AUTOMOBILE"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), sum($"c_acctbal").as("total_bal"))
        .orderBy($"c_mktsegment")
    }),

    // P2/P3: CASE-WHEN classification chain (link-classification shape).
    "q03_case_classify" -> ((s, d) => {
      import s.implicits._
      t(s, d, "part")
        .withColumn("class",
          when($"p_type" === "PROMO", "promo")
            .when($"p_type".isin("SMALL", "MEDIUM"), "compact")
            .when($"p_size" >= 40, "oversize")
            .otherwise("standard"))
        .groupBy($"class")
        .agg(count(lit(1)).as("n"), avg($"p_retailprice").as("avg_price"))
        .orderBy($"class")
    }),

    // J1: broadcast hash equi-join, small dim side.
    "q04_join_broadcast" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), $"o_custkey" === $"c_custkey")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_orders"), sum($"o_totalprice").as("revenue"))
        .orderBy($"c_nationkey")
    }),

    // J-chain: 3-way broadcast join through the dimension hierarchy.
    "q05_join_multi" -> ((s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(t(s, d, "region")), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(count(lit(1)).as("n_cust"), sum($"c_acctbal").as("total_bal"))
        .orderBy($"r_name")
    }),

    // A2/W2: struct-ordering argmax (latest-quarter selection shape).
    "q06_argmax_latest" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .groupBy($"o_custkey")
        .agg(
          max($"o_orderdate").as("latest_date"),
          max_by($"o_orderkey", struct($"o_orderdate", $"o_orderkey"))
            .as("latest_orderkey"))
        .orderBy($"o_custkey")
    }),

    // W1: per-group top-k via rank window (promising-links shape).
    "q07_topk_per_group" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      t(s, d, "orders")
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rk")
        .orderBy($"o_custkey", $"rk")
    }),

    // D1: dedup as distinct-count per group.
    "q08_dedup_count" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("n_parts"),
             countDistinct($"l_suppkey").as("n_supps"))
        .orderBy($"l_returnflag")
    }),

    // D2: left-anti join (visited-URL skip shape).
    "q09_anti_join" -> ((s, d) => {
      import s.implicits._
      val pending = t(s, d, "orders")
        .filter($"o_orderstatus" === "P").select($"o_custkey")
      t(s, d, "customer")
        .join(pending, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_no_orders"))
        .orderBy($"c_mktsegment")
    }),

    // D3: union across sources then global distinct.
    "q10_union_distinct" -> ((s, d) => {
      import s.implicits._
      val a = t(s, d, "lineitem").select($"l_partkey".as("pk"))
      val b = t(s, d, "part").select($"p_partkey".as("pk"))
      a.unionByName(b).distinct()
        .agg(count(lit(1)).as("n_distinct_parts"))
    }),

    // F1-F3/F6: case/trim/contains/substring string surface.
    "q11_string_ops" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length($"text")).as("total_chars"),
          sum(when(lower($"text").contains("spark"), 1).otherwise(0)).as("n_spark"),
          min(substring_index(trim($"text"), " ", 1)).as("first_word"))
        .orderBy($"source")
    }),

    // F4: regex extraction from semi-structured text.
    "q12_regex_extract" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .withColumn("k", regexp_extract($"props", "\"k\": (\\d+)", 1).cast("int"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"), max($"k").as("max_k"))
        .orderBy($"event_type")
    }),

    // F15: JSON field extraction + null-safe coalesce chain (F10).
    "q13_json_extract" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .withColumn("k", get_json_object($"props", "$.k").cast("int"))
        .withColumn("k2", coalesce(get_json_object($"props", "$.missing").cast("int"),
                                   $"k", lit(-1)))
        .groupBy($"event_type")
        .agg(avg($"k").as("avg_k"), sum($"k2").as("sum_k2"))
        .orderBy($"event_type")
    }),

    // F9/§2.9 batch analog: tumbling 1-hour window aggregation.
    "q14_hourly_window" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
        .agg(count(lit(1)).as("n"), sum($"value").as("total_value"))
        .orderBy($"hour", $"event_type")
    }),

    // P14/F5: filename sanitization over constructed dirty names.
    "q15_sanitize" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id",
          graft.expr.LinkFuncs.sanitizeFilename(
            concat($"source", lit("<"), $"lang", lit(">:"), $"doc_id"))
            .as("fname"))
        .orderBy($"doc_id")
    }),

    // U8/F10/F4: download-stage filename chain — metadata name →
    // Content-Disposition (RFC 6266/5987) → URL slug → download{ext},
    // with content-type→extension inference, as pure column logic
    // (reference src/download_reports.py:349-418).
    "q16_filename_chain" -> ((s, d) => {
      import s.implicits._
      val id = $"doc_id".cast("string")
      val url = when($"doc_id" % 4 === 0,
          concat(lit("https://ir.example.com/files/report-"), id, lit(".pdf")))
        .when($"doc_id" % 4 === 1, lit("https://ir.example.com/files/statement"))
        .when($"doc_id" % 4 === 2, lit("https://ir.example.com/"))
        .otherwise(concat(lit("https://cdn.example.org/a/b/deck-"), id, lit(".xlsx")))
      val cd = when($"doc_id" % 3 === 0, lit(""))
        .when($"doc_id" % 3 === 1, lit("attachment; filename=\"quarterly report.pdf\""))
        .otherwise(lit("attachment; filename*=UTF-8'en'q4%20report.pdf"))
      val ct = when($"doc_id" % 5 === 0, lit("application/pdf"))
        .when($"doc_id" % 5 === 1, lit("text/html; charset=utf-8"))
        .when($"doc_id" % 5 === 2,
          lit("application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"))
        .when($"doc_id" % 5 === 3, lit("text/plain"))
        .otherwise(lit("application/octet-stream"))
      val title = when($"doc_id" % 2 === 0, lit("Earnings Report")).otherwise(lit(""))
      val yr = when($"doc_id" % 2 === 0, (lit(2020) + $"doc_id" % 5).cast("long"))
      val qtr = when($"doc_id" % 2 === 0, (lit(1) + $"doc_id" % 4).cast("long"))
      t(s, d, "documents")
        .select($"doc_id",
          graft.expr.DownloadFuncs.buildFilename(url, cd, ct, title, yr, qtr)
            .as("filename"))
        .orderBy($"doc_id")
    }),

    // U5/A3/F13: year/quarter extraction via regexp_extract_all +
    // array_max over constructed report-title strings.
    "q17_year_quarter" -> ((s, d) => {
      import s.implicits._
      val k = get_json_object($"props", "$.k").cast("int")
      val title = concat(lit("Report Q"), ((k % 4) + 1).cast("string"),
                         lit(" FY"), (lit(1990) + k % 30).cast("string"))
      Tables.events(s, d)
        .withColumn("title", title)
        .select(
          $"event_id",
          array_max(transform(
            regexp_extract_all(lower($"title"), lit("(19|20)\\d{2}"), lit(0)),
            y => y.cast("int"))).as("year"),
          array_max(transform(
            regexp_extract_all(lower($"title"), lit("q([1-4])"), lit(1)),
            q => q.cast("int"))).as("quarter"))
        .orderBy($"event_id")
    }),

    // F11/A8: content digests, distinct-count per group.
    "q18_md5_digest" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .groupBy($"source")
        .agg(countDistinct(md5($"text")).as("n_distinct"),
             count(lit(1)).as("n_docs"))
        .orderBy($"source")
    }),

    // A11/F12 + llmops token counting: token/char stats per language.
    "q19_token_stats" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(graft.llmops.TextFuncs.tokenCount($"text")).as("sum_tokens"),
          sum(length($"text")).as("sum_chars"),
          sum(graft.llmops.TextFuncs.approxBpeTokenCount($"text")).as("sum_bpe"))
        .orderBy($"lang")
    }),

    // llmops exact dedup: union with a shifted copy, keep min id per
    // identical content (hash-groupBy dedup, D1 at corpus scale).
    "q20_exact_dedup" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val dup = docs.withColumn("doc_id", $"doc_id" + 100000)
      graft.llmops.Dedup.exact(docs.unionByName(dup))
        .select($"doc_id".as("keep_id"))
        .orderBy($"keep_id")
    }),

    // llmops quality scoring: length/stopword/word-length/punctuation.
    "q21_quality" -> ((s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      t(s, d, "documents")
        .groupBy($"source")
        .agg(
          avg(T.qualityScore($"text")).as("avg_quality"),
          avg(T.stopwordRatio($"text")).as("avg_stop_ratio"),
          avg(T.meanWordLen($"text")).as("avg_mwl"))
        .orderBy($"source")
    }),

    // llmops language ID heuristic: detected language histogram.
    // Tokenize once in a lower projection; the five per-language hit
    // counters reference the materialized token array. 20 REAL
    // unspaced-zh rows are planted closed-form from doc_id arithmetic
    // (no whitespace anywhere in them) — they only classify as zh
    // because the script-aware tokenizer isolates each ideograph, so
    // this oracle pins the no-space-script seam end to end.
    "q22_lang_id" -> ((s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val base = t(s, d, "documents").select($"doc_id", $"text")
      // zh stopwords planted: 的 (x doc_id%3+1) and 是 (x1)
      val zh = base.filter($"doc_id" < 20).select(
        ($"doc_id" + 900000).as("doc_id"),
        concat(lit("这"),
          repeat(lit("的数据很好"),
            ($"doc_id" % 3 + 1).cast("int")),
          lit("是一个测试")).as("text"))
      // th stopwords planted: unspaced Thai — ภาษาไทย carries า twice,
      // so the char-isolating tokenizer seam yields 2·reps th hits
      val th = base.filter($"doc_id" < 15).select(
        ($"doc_id" + 910000).as("doc_id"),
        concat(lit("ไทย"),
          repeat(lit("ภาษาไทย"),
            ($"doc_id" % 3 + 1).cast("int"))).as("text"))
      base.unionByName(zh).unionByName(th)
        .withColumn("toks", T.tokens($"text"))
        .groupBy(T.langIdFromTokens($"toks").as("detected"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"detected")
    }),

    // llmops similarity search: brute-force cosine top-5 for 5 query
    // vectors (broadcast queries, map-side scoring, top-k window).
    "q23_cosine_topk" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      val scored = emb.join(broadcast(q)).filter($"vec_id" =!= $"query_id")
        .withColumn("sim", graft.llmops.VectorFuncs.cosine($"embedding", $"query_vec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"sim".desc, $"vec_id")
      scored.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
        .select($"query_id", $"vec_id", $"sim", $"rk")
        .orderBy($"query_id", $"rk")
    }),

    // llmops MinHash+LSH near-duplicate pairs. The sketch kernel has no
    // SQL analog (DedupSpec pins it against exact Jaccard), but the
    // relational downstream — band bucket join, hot-bucket cap,
    // signature verify, threshold — is oracle-checked: Verify dumps the
    // signatures and pre-cap band rows, and the DuckDB oracle
    // re-derives the pairs from them independently.
    "q24_minhash_pairs" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val D = graft.llmops.Dedup
      // dump with the SAME split the operator auto-plans for 0.7, so
      // the oracle's parametric replay (len(sig)-driven) stays exact
      val p = graft.llmops.LshPlan.plan(0.7)
      val sigs = D.minhashSigs(docs, numHashes = p.nHashes)
      materialize(sigs, "q24_sigs")
      materialize(D.lshBanded(sigs, p.bands, p.rowsPerBand), "q24_bands")
      D.minhashPairs(docs, threshold = 0.7)
        .select($"id_a", $"id_b", round($"sim", 2).as("sim_bucket"))
        .orderBy($"id_a", $"id_b")
    }),

    // llmops SimHash near-duplicate pairs. Verify dumps the 64-bit
    // fingerprints; banding ((fp >> 16b) & 0xffff), the bucket cap,
    // and Hamming verification (bit_count(xor)) are all expressible in
    // DuckDB directly, so the oracle replays everything after the
    // fingerprint kernel.
    "q25_simhash_pairs" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      materialize(docs.select($"doc_id".as("id"),
        graft.llmops.Sketches.simhash64($"text").as("fp")), "q25_fps")
      // wideBands = false: this query pins the 64-bit oracle (DuckDB
      // replays 16-bit banding + bit_count over the dumped 64-bit
      // fps); the library default is the 128-bit wide-band config
      graft.llmops.Dedup.simhashPairs(docs, maxHamming = 3,
          wideBands = false)
        .orderBy($"id_a", $"id_b")
    }),

    // llmops embedding near-dup pairs in RHP-LSH buckets. Verify dumps
    // the (id, band, band_hash) bucket assignments; the bucket
    // self-join, cap, and cosine verify replay in DuckDB over the
    // embeddings base table (list_cosine_similarity on ::DOUBLE[] is
    // bit-identical to our double-accumulating cosine — q23 precedent).
    // Threshold 0.4 because the synthetic embeddings top out near
    // cosine 0.5 — a 0.9 near-dup threshold would make the check
    // vacuously empty.
    "q26_embedding_pairs" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      materialize(emb.select(
        $"vec_id".as("id"),
        explode(array((0 until 4).map(bd =>
          struct(lit(bd).as("band"),
            graft.llmops.VectorFuncs.rhpBucket($"embedding", 8, seed = 42L + bd)
              .as("band_hash"))): _*)).as("b"))
        .select($"id", $"b.band".as("band"), $"b.band_hash".as("band_hash")),
        "q26_buckets")
      graft.llmops.Dedup.embeddingPairs(emb, threshold = 0.4)
        .select($"id_a", $"id_b", round($"sim", 2).as("sim_bucket"))
        .orderBy($"id_a", $"id_b")
    }),

    // llmops MinHash dedup end-to-end: surviving doc count per source.
    "q27_minhash_dedup" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val D = graft.llmops.Dedup
      val p = graft.llmops.LshPlan.plan(0.7)
      val sigs = D.minhashSigs(docs, numHashes = p.nHashes)
      materialize(sigs, "q27_sigs")
      materialize(D.lshBanded(sigs, p.bands, p.rowsPerBand), "q27_bands")
      D.minhashDedup(docs, threshold = 0.7)
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .orderBy($"source")
    }),

    // F7: URL host extraction over constructed URLs.
    "q28_url_host" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .withColumn("url",
          concat(lit("https://"), $"source", lit(".example.com/docs/"),
                 $"doc_id", lit(".pdf")))
        .groupBy(graft.expr.UrlFuncs.url_host($"url").as("host"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"host")
    }),

    // U1: resolve_url custom Expression over the three resolution modes.
    "q29_resolve_url" -> ((s, d) => {
      import s.implicits._
      val base = lit("https://ir.example.com/filings/index.html")
      val href = when($"doc_id" % 3 === 0,
          concat(lit("https://cdn.example.org/a/"), $"doc_id", lit(".pdf")))
        .when($"doc_id" % 3 === 1, concat(lit("/abs/"), $"doc_id", lit(".pdf")))
        .otherwise(concat(lit("rel/"), $"doc_id", lit(".pdf")))
      t(s, d, "documents")
        .select($"doc_id",
          graft.expr.UrlFuncs.resolve_url(href, base).as("resolved"))
        .orderBy($"doc_id")
    }),

    // A10: collect_list(struct) nested aggregation, order-canonicalized.
    "q30_collect_list" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .filter($"o_custkey" <= 50)
        .groupBy($"o_custkey")
        .agg(array_join(transform(array_sort(collect_list($"o_orderkey")),
               _.cast("string")), ",").as("order_keys"),
             count(lit(1)).as("n"))
        .orderBy($"o_custkey")
    }),

    // Scale-path exact top-k: bounded-heap partial aggregation instead
    // of the rank window — same results as q23, but each partition
    // pre-reduces to ≤k candidates per query before the shuffle, so no
    // per-query reducer sees the whole corpus (the round-1 perf_weak).
    "q49_cosine_topk_agg" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      val scored = emb.join(broadcast(q)).filter($"vec_id" =!= $"query_id")
        .withColumn("sim", graft.llmops.VectorFuncs.cosine($"embedding", $"query_vec"))
      scored.groupBy($"query_id")
        .agg(graft.llmops.TopK.topK($"vec_id", $"sim", 5).as("topk"))
        .select($"query_id", posexplode($"topk").as(Seq("pos", "t")))
        .select($"query_id", $"t._1".as("vec_id"), $"t._2".as("sim"),
          ($"pos" + 1).cast("int").as("rk"))
        .orderBy($"query_id", $"rk")
    }),

    // Deterministic content-hash train/val/test assignment — no RNG,
    // stable under reruns/appends/parallelism; per-split stats.
    "q50_hash_split" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .withColumn("split", graft.llmops.Splits.assignSplit($"text"))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
          sum(length($"text")).as("sum_chars"))
        .orderBy($"split")
    }),

    // TF-IDF top terms: explode → tf groupBy → corpus df → idf join —
    // the classic text-analysis shuffle pipeline (words aggregate
    // map-side; the vocabulary-sized df table joins back by word).
    "q51_tfidf" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val words = docs
        .select($"doc_id", explode(split(lower(trim($"text")), "\\s+")).as("word"))
        .filter(length($"word") > 0)
      val tf = words.groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
      val dfreq = words.groupBy($"word").agg(countDistinct($"doc_id").as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"word")
      tf.filter($"doc_id" < 10)
        .join(dfreq, "word")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf", $"tf" * log($"n_docs".cast("double") / $"df"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"doc_id", $"word", $"tfidf", $"rk")
        .orderBy($"doc_id", $"rk")
    }),

    // Decontamination with exact verification: LSH banding PROPOSES
    // (identical texts always agree on every band, so recall is 1.0 at
    // threshold 1.0), an exact text-equality join DISPOSES (a 128-hash
    // sketch can collide for near-identical texts — observed at
    // sf0.1). The query is therefore provably equal to the
    // text-equality oracle at any scale while still exercising the
    // full sketch→band→bucket-join→verify pipeline; the exact compare
    // only ever runs on LSH candidates, never all pairs.
    "q52_contamination" -> ((s, d) => {
      import s.implicits._
      val corpus = t(s, d, "documents").select($"doc_id", $"text")
      val bench = corpus.filter($"doc_id" % 100 === 0)
      graft.llmops.Dedup.contaminationPairs(corpus, bench, threshold = 1.0)
        .join(corpus.select($"doc_id".as("corpus_id"), $"text".as("ta")), "corpus_id")
        .join(broadcast(bench.select($"doc_id".as("bench_id"), $"text".as("tb"))),
          "bench_id")
        .filter($"ta" === $"tb")
        .select($"corpus_id", $"bench_id", lit(1.0).as("sim"))
        .orderBy($"corpus_id", $"bench_id")
    }),

    // Skew-salted fact join: the salt spreads each hot key over 16
    // tasks; the oracle is the PLAIN join — salting must be
    // semantically invisible.
    "q53_salted_join" -> ((s, d) => {
      import s.implicits._
      val joined = graft.ops.Skew.saltedJoin(
        t(s, d, "orders").select($"o_custkey".as("c_custkey"), $"o_totalprice"),
        t(s, d, "customer").select($"c_custkey", $"c_mktsegment"),
        key = "c_custkey")
      joined.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), sum($"o_totalprice").as("revenue"))
        .orderBy($"c_mktsegment")
    }),

    // Windowed top-k via the bounded-heap aggregate (the batch analog
    // of EventStreams.windowTopK): per-hour top events by value, with
    // the rank-window as the DuckDB oracle — checks TopK's ordering
    // against row_number on a second, independent shape.
    "q54_window_topk" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy(date_trunc("hour", $"ts").as("hour"))
        .agg(graft.llmops.TopK.topK($"event_id", $"value", 3).as("topk"))
        .select($"hour", posexplode($"topk").as(Seq("pos", "t")))
        .select($"hour", $"t._1".as("event_id"), $"t._2".as("value"),
          ($"pos" + 1).cast("int").as("rk"))
        .orderBy($"hour", $"rk")
    }),

    // llmops PII scrubbing: typed redaction of emails / phone numbers /
    // IPv4 addresses with RE2-safe patterns shared verbatim with the
    // oracle. The corpus has no PII, so deterministic synthetic PII is
    // woven in from doc fields (q29 precedent) before redacting.
    "q55_pii_redact" -> ((s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val withPii = t(s, d, "documents")
        .filter($"doc_id" < 50)
        .select($"doc_id", concat(
          lit("user"), $"doc_id".cast("string"), lit("@example.com says: "),
          $"text",
          lit(" call 555-"),
          lpad(pmod($"doc_id" * 7919, lit(10000)).cast("string"), 4, "0"),
          lit(" or visit 10."), pmod($"doc_id", lit(256)).cast("string"),
          lit(".0.1")).as("text"))
      withPii.select(
        $"doc_id",
        T.emailCount($"text").as("n_emails"),
        T.phoneCount($"text").as("n_phones"),
        T.ipCount($"text").as("n_ips"),
        length($"text").as("len_before"),
        length(T.redactPii($"text")).as("len_after"),
        substring(T.redactPii($"text"), 1, 30).as("head"))
        .orderBy($"doc_id")
    }),

    // llmops repetition quality filters (Gopher-style): duplicate-word
    // and duplicate-2-gram fractions, aggregated as integer flag counts
    // per source (integer outputs — immune to float-sum ordering).
    "q56_repetition" -> ((s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      t(s, d, "documents")
        .select($"source",
          T.duplicateWordFraction($"text").as("dw"),
          T.duplicateNgramFraction($"text", 2).as("d2"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"dw" > 0.55, 1L).otherwise(0L)).as("n_dup_word_flagged"),
          sum(when($"d2" > 0.05, 1L).otherwise(0L)).as("n_dup_2gram_flagged"))
        .orderBy($"source")
    }),

    // Supplier-region revenue (TPC-H Q5 shape): the fact table streams
    // through a chain of broadcast dimension joins (supplier → nation →
    // region) — zero shuffle until the final low-cardinality aggregate.
    // Revenue is summed in exact integer cent·basis-point space (the
    // prices are 2-decimal) so the total is independent of accumulation
    // order — a double sum over 600k rows lands wherever the shuffle
    // ordered it, which the hash oracle would flag.
    "q58_supplier_revenue" -> ((s, d) => {
      import s.implicits._
      val cents = round($"l_extendedprice" * 100).cast("long")
      val discBp = lit(100L) - round($"l_discount" * 100).cast("long")
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "supplier")), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(t(s, d, "nation")), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(t(s, d, "region")), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(count(lit(1)).as("n_items"),
          sum(cents * discBp).as("rev_units"),
          countDistinct($"s_suppkey").as("n_suppliers"))
        .select($"r_name", $"n_items",
          ($"rev_units" / 10000.0).as("revenue"), $"n_suppliers")
        .orderBy($"r_name")
    }),

    // llmops incremental dedup: clean a synthetic delta (fresh docs +
    // copies of corpus docs + within-delta copies) against the
    // persisted corpus sketch tables — corpus text is never touched.
    // Verify dumps both sides' sigs/bands; the oracle replays the
    // two-phase anti-join from them.
    "q59_incremental_dedup" -> ((s, d) => {
      import s.implicits._
      val D = graft.llmops.Dedup
      val base = t(s, d, "documents")
      val corpus = base.filter($"doc_id" % 5 =!= 0)
      val fresh = base.filter($"doc_id" % 5 === 0)
      val corpusDups = corpus.filter($"doc_id" % 7 === 1)
        .withColumn("doc_id", $"doc_id" + 1000000L)
      val deltaDups = fresh.filter($"doc_id" % 9 === 0)
        .withColumn("doc_id", $"doc_id" + 3000000L)
      val delta = fresh.unionByName(corpusDups).unionByName(deltaDups)
      // in production these two come from persisted tables (with the
      // plan saved alongside — Models.saveLshPlan); checkpoint here so
      // the corpus is sketched once, not once per consumer. The corpus
      // is sketched under the SAME plan incrementalDedup derives for
      // its default threshold — the split-consistency contract.
      val p = graft.llmops.LshPlan.plan(0.7)
      val cSigs = D.minhashSigs(corpus, numHashes = p.nHashes)
        .localCheckpoint(false)
      val cBands = D.lshBanded(cSigs, p.bands, p.rowsPerBand)
      if (materializing) {
        materialize(cSigs, "q59_csigs")
        materialize(cBands, "q59_cbands")
        val dSigs = D.minhashSigs(delta, numHashes = p.nHashes)
        materialize(dSigs, "q59_dsigs")
        materialize(D.lshBanded(dSigs, p.bands, p.rowsPerBand), "q59_dbands")
      }
      D.incrementalDedup(delta, cBands, cSigs)
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .orderBy($"source")
    }),

    // llmops exact n-gram Jaccard dedup family: MinHash banding
    // PROPOSES candidates (threshold 0.3 — recall knob), the exact
    // word-3-gram set Jaccard DISPOSES (threshold 0.4). The exact set
    // compare only ever runs on bucket-mates. Verify dumps the
    // candidate pairs and the exploded gram table; the oracle
    // recomputes intersections/unions relationally from them.
    "q60_ngram_jaccard" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val D = graft.llmops.Dedup
      if (materializing) {
        materialize(D.minhashPairs(docs, threshold = 0.3)
          .select($"id_a", $"id_b"), "q60_cands")
        materialize(docs.select($"doc_id".as("id"),
          explode(graft.llmops.TextFuncs.wordNgrams($"text", 3)).as("gram")),
          "q60_grams")
      }
      D.ngramJaccardPairs(docs, n = 3, threshold = 0.4)
        .select($"id_a", $"id_b", round($"jaccard", 2).as("jac_bucket"))
        .orderBy($"id_a", $"id_b")
    }),

    // llmops stratified corpus sampling: per-source deterministic
    // rates (downsample-web / keep-books corpus mixing). Keep is a
    // pure function of (source, text) — an md5-prefix range check at
    // 1/65536 granularity — so the sample is stable under reruns,
    // repartitioning, and appends. No shuffle until the count.
    "q61_stratified_sample" -> ((s, d) => {
      import s.implicits._
      val S = graft.llmops.Splits
      val thr = S.stratumThreshold($"source",
        Map("src0" -> 0.75, "src1" -> 0.5, "src2" -> 0.25),
        defaultFrac = 0.1)
      t(s, d, "documents")
        .withColumn("keep", S.sampleHash($"text", thr))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"keep", 1L).otherwise(0L)).as("n_sampled"))
        .orderBy($"source")
    }),

    // Bloom-pruned semi-join (explicit runtime-filter shape): the
    // urgent-order key set compresses to bloom bits tested at the
    // lineitem scan, so non-matching rows die before the join shuffle;
    // the exact semi-join behind it disposes of false positives, so
    // the result equals the plain semi-join the oracle runs. Revenue
    // in exact cents (order-independent sum).
    "q62_bloom_prune" -> ((s, d) => {
      import s.implicits._
      val urgent = t(s, d, "orders")
        .filter($"o_orderpriority" === "1-URGENT" && $"o_custkey" < 100)
      graft.ops.Bloom.prunedSemiJoin(
          t(s, d, "lineitem"), $"l_orderkey", urgent, $"o_orderkey",
          expectedItems = 10000L, fpp = 0.01)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(round($"l_extendedprice" * 100).cast("long")).as("sum_cents"))
        .orderBy($"l_returnflag")
    }),

    // HLL approximate distinct per source. The estimate itself has no
    // cross-engine oracle (HLL implementations differ), so the
    // contract column IS the oracle: the query asserts the estimate
    // lands within 5% of exact (rsd 0.01 → expected error ~1%), the
    // SQL side emits the literal the assertion must equal — same
    // pattern as q53, where the oracle pins "salting is invisible".
    // At 100 TB this replaces the exact count-distinct shuffle (every
    // distinct text key) with fixed-size mergeable registers.
    "q63_approx_distinct" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .groupBy($"source")
        .agg(countDistinct($"text").as("n_exact"),
          approx_count_distinct($"text", rsd = 0.01).as("n_approx"))
        .select($"source", $"n_exact",
          (abs($"n_approx" - $"n_exact") <= $"n_exact" * 0.05).as("approx_ok"))
        .orderBy($"source")
    }),

    // Deterministic per-group sample: k docs per source chosen by
    // content-hash order — the uniform-but-reproducible spot-check
    // sample (same docs on any cluster, any run). The rank window
    // lowers to WindowGroupLimit, so each task keeps ≤k rows per
    // group before the shuffle.
    "q64_group_sample" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"source").orderBy(md5($"text"), $"doc_id")
      t(s, d, "documents")
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"source", $"rk", $"doc_id")
        .orderBy($"source", $"rk")
    }),

    // Bloom-accelerated exact decontamination: the scale path when the
    // benchmark outgrows the broadcast threshold. Bloom splits the
    // corpus at the scan (misses are definitely clean, zero shuffle);
    // only suspects anti-join the benchmark, on a 192-bit digest pair
    // so text never shuffles. Result ≡ the plain NOT IN the oracle
    // runs.
    "q65_bloom_decontam" -> ((s, d) => {
      import s.implicits._
      val corpus = t(s, d, "documents")
      val bench = corpus.filter($"doc_id" % 50 === 0).select($"text")
      graft.llmops.Dedup.bloomDecontaminate(corpus, bench,
          expectedItems = 10000L, fpp = 0.01)
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .orderBy($"source")
    }),

    // Deterministic corpus shuffle (training order): sort by a seeded
    // content hash — reproducible "random" order with no RNG, a
    // distributed range-partition sort at full scale. The head-20
    // probe here lowers to TakeOrderedAndProject (per-partition top-k,
    // no global sort materialized).
    "q66_corpus_shuffle" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id",
          substring(graft.llmops.Splits.shuffleKey($"text", "seed42"), 1, 8)
            .as("h"))
        .orderBy($"h", $"doc_id")
        .limit(20)
    }),

    // Quantile binning without a global sort (curriculum bucketing):
    // exact quartile thresholds from ONE aggregation, broadcast back,
    // bin assignment as a narrow map — the scale-correct alternative
    // to ntile's single-partition global window. Char sum per bin in
    // BIGINT (oracle casts DuckDB's HUGEINT).
    "q67_quantile_bins" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Binning.quantileBins(
          t(s, d, "documents"), $"n_chars", Seq(0.25, 0.5, 0.75))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"bin")
    }),

    // Mergeable HLL sketch tables (Datasketches): per-(source, half)
    // sketches union into per-source estimates — the persisted-sketch
    // pattern for incremental distinct counts (append a sketch row per
    // ingest batch; never rescan the corpus). Like q63 the estimate
    // has no cross-engine oracle, so the contract column pins it:
    // union-of-partial-sketches lands within 5% of the exact global
    // distinct (sketches this small sit in sparse mode — near-exact).
    "q68_hll_union" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val partials = docs
        .withColumn("half", pmod($"doc_id", lit(2)))
        .groupBy($"source", $"half")
        .agg(hll_sketch_agg($"text", lit(12)).as("sk"))
      val unioned = partials.groupBy($"source")
        .agg(hll_sketch_estimate(hll_union_agg($"sk", lit(false)))
          .as("n_approx"))
      docs.groupBy($"source")
        .agg(countDistinct($"text").as("n_exact"))
        .join(unioned, "source")
        .select($"source", $"n_exact",
          (abs($"n_approx" - $"n_exact") <= $"n_exact" * 0.05).as("union_ok"))
        .orderBy($"source")
    }),

    // llmops sequence packing: concat-and-chunk bin assignment via
    // stream-parallel window cumsum (see Packing for the 100 TB shape),
    // reduced to bin-level stats.
    "q57_pack_bins" -> ((s, d) => {
      import s.implicits._
      val packed = graft.llmops.Packing.packBins(
        t(s, d, "documents"), targetTokens = 512, streams = 8)
      graft.llmops.Packing.binStats(packed)
        .orderBy($"source", $"stream", $"bin_id")
    }),

    // Rollup: hierarchical subtotals (free via Catalyst, declared for
    // the inventory's grouping-sets surface).
    "q31_rollup" -> ((s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(t(s, d, "region")), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_cust"))
        .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
    }),

    // F14: literal-map lookup with coalesce default (doc-type shape).
    "q32_map_lookup" -> ((s, d) => {
      import s.implicits._
      val labels = typedLit(Map(
        "en" -> "English", "es" -> "Spanish", "de" -> "German"))
      t(s, d, "documents")
        .groupBy(coalesce(element_at(labels, $"lang"), lit("Other")).as("lang_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang_label")
    }),

    // Analytic window: running revenue per customer (frame spec).
    "q33_running_sum" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .filter($"o_custkey" <= 100)
        .select($"o_custkey", $"o_orderkey",
          sum($"o_totalprice").over(w).as("running_total"))
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    // lag/lead: inter-order gap days per customer.
    "q34_lag_lead" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      t(s, d, "orders")
        .filter($"o_custkey" <= 100)
        .select($"o_custkey", $"o_orderkey",
          datediff($"o_orderdate", lag($"o_orderdate", 1).over(w)).as("gap_days"))
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    // llmops multimodal: binary assets → per-partition feature
    // extraction → per-media-type stats. The decode kernel is the
    // (honest) stub; Verify dumps the extracted feature table so the
    // grouping/aggregation layer gets a real DuckDB check. f0_sum goes
    // through an exact decimal sum (then back to double) because a
    // float sum's value depends on accumulation order — decimal
    // addition is associative, so both engines agree bit-for-bit.
    "q35_multimodal" -> ((s, d) => {
      import s.implicits._
      val assets = graft.llmops.Multimodal.syntheticAssets(
        s, t(s, d, "documents"))
      val feats = graft.llmops.Multimodal.extractFeatures(s, assets).toDF()
      materialize(feats, "q35_features")
      feats
        .groupBy($"media_type")
        .agg(count(lit(1)).as("n"),
             sum($"n_bytes").as("total_bytes"),
             sum(element_at($"feature", 1).cast("decimal(18,6)"))
               .cast("double").as("f0_sum"))
        .orderBy($"media_type")
    }),

    // llmops ANN: LSH-bucketed approximate top-k. The bucket kernel is
    // sketch-specific (recall asserted in VectorFuncsSpec), but Verify
    // dumps corpus buckets + multi-probe query buckets, and the oracle
    // replays candidate join → cosine → rank in DuckDB.
    "q36_lsh_topk" -> ((s, d) => {
      import s.implicits._
      val V = graft.llmops.VectorFuncs
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      materialize(emb.select($"vec_id",
        V.rhpBucket($"embedding", 4).as("bucket")), "q36_cb")
      materialize(V.lshProbes(q, 4).select($"query_id", $"bucket"), "q36_qb")
      V.lshTopK(emb, q, k = 5, planes = 4)
        .select($"query_id", $"vec_id", round($"sim", 4).as("sim"), $"rk")
        .orderBy($"query_id", $"rk")
    }),

    // Pivot: event counts per hour-of-day × type (wide form).
    "q47_pivot" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .withColumn("hod", hour($"ts"))
        .groupBy($"hod")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy($"hod")
    }),

    // Explode/unnest: word frequency via generator + top-k.
    "q48_explode_words" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select(explode(graft.llmops.TextFuncs.tokens($"text")).as("word"))
        .filter(length($"word") > 0)
        .groupBy($"word")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"word")
        .limit(10)
    }),

    // Range join: time-proximity pairs via bucketed equi-join, checked
    // against DuckDB's native inequality join.
    "q46_range_join" -> ((s, d) => {
      import s.implicits._
      graft.ops.RangeJoin.timeProximityPairs(
        Tables.events(s, d), Seq("user_id"), "event_id", "ts",
        maxGapMicros = 600000000L)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_pairs"), min($"gap_us").as("min_gap_us"))
        .orderBy($"user_id")
    }),

    // llmops: BPE-ish regex pretokenization counts (GPT-2 pattern).
    "q44_bpe_tokens" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .groupBy($"lang")
        .agg(sum(graft.llmops.TextFuncs.bpeishTokenCount($"text")).as("sum_bpe_tokens"),
             count(lit(1)).as("n_docs"))
        .orderBy($"lang")
    }),

    // llmops: winnowing fingerprint containment pairs (guarantee
    // property asserted in WinnowingSpec). Verify dumps the exploded
    // distinct fingerprints; the stop-fingerprint df-filter, pair
    // self-join, and shared-count threshold replay in DuckDB.
    "q45_winnow_pairs" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      materialize(docs.select($"doc_id".as("id"),
        explode(array_distinct(
          graft.llmops.Winnowing.winnow_fingerprints($"text", 8, 12)))
          .as("fp")), "q45_fps")
      graft.llmops.Winnowing.containmentPairs(docs, minShared = 5)
        .orderBy($"id_a", $"id_b")
    }),

    // llmops ANN, IVF variant: coarse-quantizer inverted lists +
    // nprobe re-ranking (recall asserted in IvfSpec). Verify dumps the
    // inverted-list assignment and the query probe lists; the oracle
    // replays probe join → cosine → rank in DuckDB.
    "q43_ivf_topk" -> ((s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      if (materializing) {
        // same deterministic hash-sampled centroids ivfTopK derives
        val cents = I.sampleCentroids(emb, nlist = 16)
        materialize(emb.select($"vec_id",
          element_at(I.nearest_centroids($"embedding", cents, 1), 1)
            .as("list_id")), "q43_assigned")
        materialize(q.select($"query_id",
          explode(I.nearest_centroids($"query_vec", cents, 4)).as("list_id")),
          "q43_probes")
      }
      I.ivfTopK(emb, q, k = 5, nlist = 16, nprobe = 4)
        .select($"query_id", $"vec_id", round($"sim", 4).as("sim"), $"rk")
        .orderBy($"query_id", $"rk")
    }),

    // Batch sessionization via window functions (30-min inactivity
    // gap): lag → gap flag → running session counter → session aggs.
    // The streaming form (flatMapGroupsWithState) lives in
    // graft.streaming; this declarative form scales as two window
    // passes over the same (user_id, ts) partitioning — one shuffle.
    "q37_sessionize" -> ((s, d) => {
      import s.implicits._
      val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val sess = Tables.events(s, d)
        .withColumn("gap_us",
          graft.expr.TimeFuncs.tsMicros($"ts") -
            lag(graft.expr.TimeFuncs.tsMicros($"ts"), 1).over(byUser))
        .withColumn("new_session",
          when($"gap_us".isNull || $"gap_us" > 30L * 60 * 1000 * 1000, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum($"new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      sess.groupBy($"user_id", $"session_id")
        .agg(count(lit(1)).as("n_events"),
             min($"ts").as("session_start"),
             max($"ts").as("session_end"),
             sum($"value").as("total_value"))
        .orderBy($"user_id", $"session_id")
    }),

    // Exact interpolated percentiles per group.
    "q38_percentiles" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .groupBy($"o_orderstatus")
        .agg(
          percentile($"o_totalprice", lit(0.5)).as("p50"),
          percentile($"o_totalprice", lit(0.95)).as("p95"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderstatus")
    }),

    // P2: the central link-classification CASE over constructed hrefs.
    "q39_classify_links" -> ((s, d) => {
      import s.implicits._
      val href = when($"doc_id" % 5 === 0,
          concat(lit("https://ir.example.com/docs/"), $"doc_id", lit(".pdf")))
        .when($"doc_id" % 5 === 1,
          concat(lit("https://ir.example.com/page/"), $"doc_id"))
        .when($"doc_id" % 5 === 2,
          concat(lit("https://elsewhere.org/p/"), $"doc_id"))
        .when($"doc_id" % 5 === 3, concat(lit("/relative/"), $"doc_id"))
        .otherwise(lit("javascript:void(0)"))
      t(s, d, "documents")
        .withColumn("link_type", graft.expr.LinkFuncs.classifyLink(
          href, lit("https://ir.example.com/index.html")))
        .groupBy($"link_type")
        .agg(count(lit(1)).as("n"))
        .orderBy($"link_type")
    }),

    // P11: content-type acceptance predicates (discovery wants HTML,
    // title-probe wants PDF/octet-stream).
    "q42_content_type" -> ((s, d) => {
      import s.implicits._
      val ct = when($"doc_id" % 4 === 0, "text/html; charset=utf-8")
        .when($"doc_id" % 4 === 1, "application/xhtml+xml")
        .when($"doc_id" % 4 === 2, "application/pdf")
        .otherwise("application/octet-stream")
      t(s, d, "documents")
        .withColumn("content_type", ct)
        .withColumn("ok_discovery",
          $"content_type".contains("text/html") ||
            $"content_type".contains("application/xhtml"))
        .withColumn("ok_title",
          $"content_type".contains("application/pdf") ||
            $"content_type".contains("octet-stream"))
        .groupBy($"ok_discovery", $"ok_title")
        .agg(count(lit(1)).as("n"))
        .orderBy($"ok_discovery", $"ok_title")
    }),

    // As-of join (union + carry-forward window — one shuffle, no join)
    // checked against DuckDB's native ASOF JOIN.
    "q41_asof_join" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val signups = ev.filter($"event_type" === "signup")
        .select($"user_id", $"ts".as("sts"), $"event_id".as("signup_event"))
      val others = ev.filter($"event_type" =!= "signup")
        .select($"user_id", $"ts", $"event_id")
      graft.ops.AsOf.joinAsOf(others, signups, Seq("user_id"), "ts", "sts",
        Seq("signup_event"))
        .select($"event_id", $"signup_event")
        .orderBy($"event_id")
    }),

    // S3/S4 + U5→A2→W4 replay over the reference's committed fixture.
    // The parsed docs table (post U5 extraction, pre selection) is
    // materialized to spark-warehouse so the DuckDB oracle can rerun
    // the P6+A2+W4 selection independently — the regex extraction
    // itself is pinned by golden-replay specs (RE2 lacks the
    // lookarounds the joint-pair rules need, so it can't be mirrored
    // in DuckDB SQL directly).
    "q40_links_replay" -> ((s, d) => {
      import s.implicits._
      val path = "/root/reference/ir_links/financial_links_3M.txt"
      // without the reference file the same path runs on no links, so
      // links3m_yq exists (empty) and the oracle agrees on no rows
      val links =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
          graft.io.LineFormats.readLinks(s, path)
        else graft.io.LineFormats.parseLinks(Seq.empty[String].toDF("value"))
      materialize(
        graft.pipeline.Extract.docsWithYearQuarter(links, maxYear = 2025),
        "links3m_yq")
      graft.pipeline.Extract.latestQuarterReports(links, maxYear = 2025)
        .orderBy(col("url"))
    }),

    // ops.ConnectedComponents over the MinHash near-dup pair graph:
    // near-dup clusters with exact transitive-closure semantics
    // (large-star/small-star contraction — O(log n) rounds, shuffles
    // carry only (long,long) edges). Verify dumps the edge list; the
    // DuckDB oracle recomputes components independently with a
    // recursive CTE and compares the full cluster membership.
    "q69_dup_clusters" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val edges = graft.llmops.Dedup.minhashPairs(docs, threshold = 0.7)
        .select($"id_a", $"id_b")
      materialize(edges, "q69_edges")
      graft.ops.ConnectedComponents.components(edges)
        .groupBy($"component")
        .agg(count(lit(1)).as("n_docs"),
          array_join(transform(array_sort(collect_list($"id")),
            _.cast("string")), ",").as("members"))
        .orderBy($"component")
    }),

    // Cluster-aware dedup end-to-end: one representative (min id) per
    // connected component survives — the transitive-closure-correct
    // counterpart of q27's single-round endpoint rule.
    "q70_cluster_dedup" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val edges = graft.llmops.Dedup.minhashPairs(docs, threshold = 0.7)
        .select($"id_a", $"id_b")
      materialize(edges, "q70_edges")
      graft.ops.ConnectedComponents.dedupByComponent(docs, edges)
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .orderBy($"source")
    }),

    // llmops sliding-window chunking: fixed token windows with overlap
    // (window 32, stride 16) — pure narrow pipeline, no shuffle; the
    // whole transform mirrors in SQL (string_split_regex +
    // generate_series + list_slice), so the oracle replays it exactly.
    "q71_chunk_windows" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Chunking.slidingChunks(
        t(s, d, "documents").filter($"doc_id" < 40)
          .select($"doc_id", $"text"),
        windowTokens = 32, strideTokens = 16)
        .select($"doc_id", $"chunk_idx", $"chunk_text", $"n_tokens")
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // Full-cube grouping sets: every (status, priority) margin in one
    // pass — Catalyst expands the cube map-side, so it's one shuffle,
    // not 4 scans (completes the q31 rollup's grouping-sets surface).
    "q72_cube" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(round($"o_totalprice" * 100).cast("long")).as("sum_cents"))
        .orderBy($"o_orderstatus".asc_nulls_first,
          $"o_orderpriority".asc_nulls_first)
    }),

    // llmops.Corpus.clean: the composed batch cleaning path (quality
    // gate → PII redact → exact dedup → exact decontaminate) with the
    // sketch stages off, so the oracle replays the WHOLE pipeline in
    // SQL — the near-dup stages are oracle-checked separately
    // (q24/q27/q69/q70). Benchmark = every 50th doc of the same
    // corpus, so decontamination provably removes its exact matches.
    "q73_clean_corpus" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val bench = docs.filter($"doc_id" % 50 === 0).select($"text")
      graft.llmops.Corpus.clean(docs, benchmark = Some(bench),
        minQuality = 0.5)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length($"text")).as("sum_chars"))
        .orderBy($"source")
    }),

    // ops.Profiling: one-pass per-column audit (nulls, distinct,
    // min/max). Distinct is HLL++ (the one-pass-at-scale part), so the
    // oracle pins it as a contract against the exact count (q63
    // precedent) while nulls/min/max hash-compare exactly.
    "q74_profile" -> ((s, d) => {
      import s.implicits._
      val cols = Seq("o_orderstatus", "o_orderpriority", "o_custkey")
      val prof = graft.ops.Profiling.profile(t(s, d, "orders"), cols)
      val exact = t(s, d, "orders").agg(
        countDistinct($"o_orderstatus").as("o_orderstatus"),
        countDistinct($"o_orderpriority").as("o_orderpriority"),
        countDistinct($"o_custkey").as("o_custkey"))
        .select(stack(lit(3),
          lit("o_orderstatus"), $"o_orderstatus",
          lit("o_orderpriority"), $"o_orderpriority",
          lit("o_custkey"), $"o_custkey")
          .as(Seq("column", "n_distinct")))
      prof.join(exact, "column")
        .select($"column".as("col_name"), $"n_rows", $"n_null",
          $"n_distinct",
          (abs($"n_distinct_approx" - $"n_distinct") <=
            $"n_distinct" * 0.05).as("approx_ok"),
          $"min_value", $"max_value")
        .orderBy($"col_name")
    }),

    // compression_ratio custom Expression (deflate size / raw size):
    // the kernel has no DuckDB analog, so the oracle pins the
    // CONTRACT — ratios bounded, and a synthetically repetitive
    // variant of each doc always compresses strictly below the
    // natural text (q63/q68 contract-query precedent).
    "q75_compression" -> ((s, d) => {
      import s.implicits._
      val C = graft.llmops.Compression
      // length floor 50, not 20: deflate's ~5-byte framing dominates
      // very short texts and can push a legitimate ratio past the 1.1
      // bound — the bound is a property of compressible PROSE, so the
      // contract only asserts it where framing is amortized away.
      t(s, d, "documents")
        .filter(length($"text") >= 50)
        .withColumn("r_nat", C.compressionRatio($"text"))
        .withColumn("r_rep",
          C.compressionRatio(repeat(substring($"text", 1, 20), 50)))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          min($"r_nat" > 0.0 && $"r_nat" <= 1.1).as("ratio_bounded"),
          min($"r_rep" < $"r_nat").as("rep_compresses_more"))
        .orderBy($"source")
    }),

    // llmops n-gram-overlap decontamination (GPT-3-report method):
    // drop corpus docs sharing any word-8-gram with the benchmark
    // slice. Fully SQL-mirrorable (the q71 generate_series/list_slice
    // gram technique), so the oracle replays gram generation, the
    // overlap semi-join, and the anti-join end-to-end.
    "q76_ngram_decontam" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val bench = docs.filter($"doc_id" % 37 === 0).select($"text")
      graft.llmops.Dedup.ngramDecontaminate(docs, bench, n = 8)
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .orderBy($"source")
    }),

    // llmops token-budget sampling: keep docs per source, in
    // deterministic content-hash order, until the stream's token quota
    // fills (mixture building with TOKEN quotas). The whole transform
    // — stream assignment, hash order, window cumsum, quota cut —
    // mirrors in ANSI SQL exactly.
    "q77_token_budget" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Splits.tokenBudgetSample(
        t(s, d, "documents"), budgetPerGroup = 4000L, streams = 4)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
        .orderBy($"source")
    }),

    // Forward as-of join (nearest FUTURE right row): same one-shuffle
    // union+carry composition as q41 with the window over descending
    // time. Oracle = DuckDB native ASOF on negated epochs (−lt ≥ −rt
    // ⟺ rt ≥ lt).
    "q78_asof_forward" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val signups = ev.filter($"event_type" === "signup")
        .select($"user_id", $"ts".as("sts"), $"event_id".as("next_signup"))
      val others = ev.filter($"event_type" =!= "signup")
        .select($"user_id", $"ts", $"event_id")
      graft.ops.AsOf.joinAsOf(others, signups, Seq("user_id"), "ts", "sts",
        Seq("next_signup"), forward = true)
        .select($"event_id", $"next_signup")
        .orderBy($"event_id")
    }),

    // ops.SnapshotDiff: corpus release diff (added/removed/changed/
    // unchanged) between two derived snapshot versions. The engine
    // compares 24-byte digests; the oracle compares the payloads
    // directly — equivalent modulo hash collisions.
    "q79_snapshot_diff" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val before = docs.filter($"doc_id" % 10 =!= 0)
      val after = docs.filter($"doc_id" % 7 =!= 0)
        .withColumn("text",
          when($"doc_id" % 5 === 0, concat($"text", lit(" v2")))
            .otherwise($"text"))
      graft.ops.SnapshotDiff.summary(before, after,
        valueCols = Seq("lang", "text"))
        .orderBy($"status")
    }),

    // ops.PageRank over a deterministic synthetic link graph (each doc
    // links to 3 modular hub nodes). Three damped power iterations,
    // mirrored by three unrolled CTE stages in the oracle; ranks
    // rounded to 3dp on both sides to absorb float-association drift.
    "q80_pagerank" -> ((s, d) => {
      import s.implicits._
      val edges = t(s, d, "documents")
        .select($"doc_id".as("src"),
          explode(array((0 until 3).map(k =>
            pmod($"doc_id" * 7919 + lit(k), lit(500))): _*)).as("dst"))
      graft.ops.PageRank.ranks(edges, iterations = 3)
        .filter($"node" < 40)
        .select($"node", round($"rank", 3).as("rank_3dp"))
        .orderBy($"node")
    }),

    // Native set operations (SURVEY §2.6 noted the reference needs
    // none beyond anti-join; declared here to round out the algebra):
    // customers active in BOTH halves of 1995 vs only the first half.
    "q81_set_ops" -> ((s, d) => {
      import s.implicits._
      val o = t(s, d, "orders")
      val h1 = o.filter($"o_orderdate".between("1995-01-01", "1995-06-30"))
        .select($"o_custkey")
      val h2 = o.filter($"o_orderdate".between("1995-07-01", "1995-12-31"))
        .select($"o_custkey")
      h1.intersect(h2).agg(count(lit(1)).as("n_both"))
        .crossJoin(h1.except(h2).agg(count(lit(1)).as("n_only_h1")))
    }),

    // The spark.sql entry path end-to-end: CTE + correlated EXISTS +
    // window rank in ONE ANSI statement over temp views — the oracle
    // runs the identical SQL.
    "q82_sql_surface" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      s.sql("""
        WITH freq AS (
          SELECT o_custkey, count(*) AS n_orders
          FROM orders_v GROUP BY o_custkey)
        SELECT c_mktsegment, count(*) AS n_cust,
               max(n_orders) AS max_orders
        FROM customer_v c JOIN freq f ON f.o_custkey = c.c_custkey
        WHERE EXISTS (
          SELECT 1 FROM freq b
          WHERE b.o_custkey = c.c_custkey AND b.n_orders >= 10)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    }),

    // llmops ANN, IVF with the Lloyd-refined quantizer (kmeansIters>0
    // — the production-shape path; q43 covers the hash-sampled seed).
    // The centroids are trained ONCE and shared between the verify
    // dump and the query via ivfTopKWithCentroids, so the oracle's
    // replay (probe join → cosine → rank over the dumped inverted
    // lists) is exact regardless of float drift in re-training.
    "q83_ivf_kmeans" -> ((s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      val cents = I.kmeansCentroids(emb, nlist = 16, iters = 2)
      if (materializing) {
        materialize(emb.select($"vec_id",
          element_at(I.nearest_centroids($"embedding", cents, 1), 1)
            .as("list_id")), "q83_assigned")
        materialize(q.select($"query_id",
          explode(I.nearest_centroids($"query_vec", cents, 4)).as("list_id")),
          "q83_probes")
      }
      I.ivfTopKWithCentroids(emb, q, k = 5, cents, nprobe = 4)
        .select($"query_id", $"vec_id", round($"sim", 4).as("sim"), $"rk")
        .orderBy($"query_id", $"rk")
    }),

    // llmops vocabulary induction: one BPE merge-selection round —
    // frequency-weighted adjacent char-pair counts over the word
    // dictionary (aggregate-before-explode; Vocab.scala).
    "q84_bpe_pairs" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Vocab.bpePairCounts(t(s, d, "documents"), $"text")
        .orderBy($"cnt".desc, $"pair")
        .limit(30)
    }),

    // llmops semantic near-dup pairs: IVF-cluster-scoped cosine (the
    // LSH-free bucketing — quantizer adapts to cluster structure where
    // q26's random hyperplanes are data-blind). Centroids trained once
    // and shared with the assignment dump, like q83; the oracle
    // replays cap → within-list pairs → cosine from the dumped lists.
    "q85_semantic_dedup" -> ((s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val cents = I.kmeansCentroids(emb, nlist = 64, iters = 2)
      if (materializing) {
        materialize(emb.select($"vec_id",
          explode(I.nearest_centroids($"embedding", cents, 2)).as("list_id")),
          "q85_assigned")
      }
      graft.llmops.Dedup.semanticPairsWithCentroids(
          emb, threshold = 0.4, cents, nprobe = 2)
        .select($"id_a", $"id_b", round($"sim", 2).as("sim_bucket"))
        .orderBy($"id_a", $"id_b")
    }),

    // llmops IMI semantic pairs: the corpus-scale variant of q85 — a
    // two-level product quantizer (k² lists from 2·k half-codebooks)
    // whose assignment cost grows as √nlist instead of nlist. Same
    // oracle contract as q85: the dumped (vec_id, list_id) assignment
    // is replayed cap → within-list pairs → cosine in SQL.
    "q86_imi_dedup" -> ((s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val (c1, c2) = I.imiCentroids(emb, k = 8, iters = 2)
      if (materializing) {
        materialize(emb.select($"vec_id",
          explode(I.imiLists($"embedding", c1, c2, 2)).as("list_id")),
          "q86_assigned")
      }
      graft.llmops.Dedup.semanticPairsImiWithCentroids(
          emb, threshold = 0.4, c1, c2, p = 2)
        .select($"id_a", $"id_b", round($"sim", 2).as("sim_bucket"))
        .orderBy($"id_a", $"id_b")
    }),

    // llmops product-quantization ANN: the corpus compresses to m=8
    // codeword ids per vector (8 bytes vs 256 of raw floats — the
    // at-scale memory story) and queries rank by the ADC inner
    // product against codeword reconstructions. Oracle contract:
    // the dumped per-vector codes + the codebook table let DuckDB
    // rebuild every reconstruction and replay the exact scoring —
    // the L2 k-means encode kernel itself has no SQL analog, but
    // everything downstream of the codes is relational.
    "q87_pq_adc_topk" -> ((s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val books = I.pqCodebooks(emb, m = 8, k = 16, iters = 2)
      if (materializing) {
        materialize(emb.where($"embedding".isNotNull)
          .select($"vec_id",
            posexplode(I.pqEncode($"embedding", books)).as(Seq("sub", "code"))),
          "q87_codes")
        val flat = for {
          sub <- books.indices; code <- books(sub).indices
          sdim <- books(sub)(code).indices
        } yield (sub, code, sdim, books(sub)(code)(sdim).toDouble)
        materialize(flat.toDF("sub", "code", "sdim", "w"), "q87_codebooks")
      }
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      I.pqTopKWithBooks(emb, q, k = 5, books)
        .orderBy($"query_id", $"rk")
    }),

    // llmops IVFADC: the standard composition of both pruning axes —
    // coarse lists bound WHICH candidates a query meets (q43's probe
    // join), PQ codes bound what each candidate COSTS (q87's ADC
    // scan). The oracle replays candidate generation (probes ⋈
    // assigned lists) and scoring (codeword reconstruction dot) from
    // four dumped deterministic tables.
    "q88_ivfadc_topk" -> ((s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val cents = I.kmeansCentroids(emb, nlist = 16, iters = 2)
      val books = I.pqCodebooks(emb, m = 8, k = 16, iters = 2)
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      if (materializing) {
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          element_at(I.nearest_centroids($"embedding", cents, 1), 1)
            .as("list_id")), "q88_assigned")
        materialize(q.select($"query_id",
          explode(I.nearest_centroids($"query_vec", cents, 4))
            .as("list_id")), "q88_probes")
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          posexplode(I.pqEncode($"embedding", books)).as(Seq("sub", "code"))),
          "q88_codes")
        val flat = for {
          sub <- books.indices; code <- books(sub).indices
          sdim <- books(sub)(code).indices
        } yield (sub, code, sdim, books(sub)(code)(sdim).toDouble)
        materialize(flat.toDF("sub", "code", "sdim", "w"), "q88_codebooks")
      }
      I.ivfAdcTopKWithModels(emb, q, k = 5, cents, books, nprobe = 4)
        .orderBy($"query_id", $"rk")
    }),

    // Quality CONTRACT for the approximate operators: q87/q88 pin exact
    // replay of the approximate result, so a quantizer bug that stays
    // self-consistent (bad training, degraded pruning) slips through —
    // this row pins IVFADC quality against the independently computed
    // exact baseline, the q63/q74 estimate-within-contract pattern.
    // Metric: the effectiveness ratio (true-dot sum of the approx
    // picks / true-dot sum of the exact top-5 under the same inner-
    // product metric) — ≤ 1 by construction, robust to the near-tied
    // margins that make set-recall flap, and it craters on a real
    // regression. n_hits/recall ride along as diagnostics. The oracle
    // recomputes BOTH sides: exact top-5 from raw embeddings
    // (list_inner_product), approx top-5 from the dumped
    // assignment/probe/code/codebook tables.
    "q89_ann_recall" -> ((s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val cents = I.kmeansCentroids(emb, nlist = 16, iters = 2)
      // the hi-fi config (dsub=4, 64 codewords): the m8k16 default is
      // honest about this corpus's near-tied dot margins but too noisy
      // to contract on — measured min ratio 0.84 here vs 0.44 there
      val books = I.pqCodebooks(emb, m = 16, k = 64, iters = 2)
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      if (materializing) {
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          element_at(I.nearest_centroids($"embedding", cents, 1), 1)
            .as("list_id")), "q89_assigned")
        materialize(q.select($"query_id",
          explode(I.nearest_centroids($"query_vec", cents, 8))
            .as("list_id")), "q89_probes")
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          posexplode(I.pqEncode($"embedding", books)).as(Seq("sub", "code"))),
          "q89_codes")
        val flat = for {
          sub <- books.indices; code <- books(sub).indices
          sdim <- books(sub)(code).indices
        } yield (sub, code, sdim, books(sub)(code)(sdim).toDouble)
        materialize(flat.toDF("sub", "code", "sdim", "w"), "q89_codebooks")
      }
      val approx = I.ivfAdcTopKWithModels(emb, q, k = 5, cents, books,
        nprobe = 8)
      // exact baseline under the SAME metric the ADC family ranks by
      // (inner product), self-pairs excluded like the approx path;
      // q49's bounded-heap shape with the dot kernel
      val exactScored = emb.join(broadcast(q))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("sim",
          graft.llmops.VectorFuncs.dotp($"embedding", $"query_vec"))
      val exact = exactScored
        .groupBy($"query_id")
        .agg(graft.llmops.TopK.topK($"vec_id", $"sim", 5).as("topk"))
        .select($"query_id", explode($"topk").as("t"))
        .select($"query_id", $"t._1".as("vec_id"), $"t._2".as("sim"))
      val trueDots = exactScored.select($"query_id", $"vec_id", $"sim")
      val sApprox = approx.select($"query_id", $"vec_id")
        .join(trueDots, Seq("query_id", "vec_id"))
        .groupBy($"query_id").agg(sum($"sim").as("sa"))
      val sExact = exact.groupBy($"query_id").agg(sum($"sim").as("se"))
      val hits = exact.select($"query_id", $"vec_id")
        .join(approx.select($"query_id", $"vec_id"),
          Seq("query_id", "vec_id"))
        .groupBy($"query_id").agg(count(lit(1)).as("h"))
      sExact
        .join(hits, Seq("query_id"), "left")
        .join(sApprox, Seq("query_id"), "left")
        .select($"query_id",
          coalesce($"h", lit(0L)).as("n_hits"),
          (coalesce($"h", lit(0L)) / 5.0).as("recall"),
          round(coalesce($"sa", lit(0.0)) / $"se", 4).as("score_ratio"),
          (round(coalesce($"sa", lit(0.0)) / $"se", 4) >= 0.5)
            .as("recall_ok"))
        .orderBy($"query_id")
    }),

    // llmops IMI+ADC: the corpus-scale composition — √nlist coarse
    // assignment (q86's multi-index) over the m-int ADC scan (q87).
    // Oracle replays candidate generation from product-list ids and
    // scoring from codeword reconstructions, exactly the q88 pattern.
    "q90_imi_adc_topk" -> ((s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val (c1, c2) = I.imiCentroids(emb, k = 4, iters = 2)
      val books = I.pqCodebooks(emb, m = 8, k = 16, iters = 2)
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      if (materializing) {
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          element_at(I.imiLists($"embedding", c1, c2, 1), 1)
            .as("list_id")), "q90_assigned")
        materialize(q.select($"query_id",
          explode(I.imiLists($"query_vec", c1, c2, 2)).as("list_id")),
          "q90_probes")
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          posexplode(I.pqEncode($"embedding", books)).as(Seq("sub", "code"))),
          "q90_codes")
        val flat = for {
          sub <- books.indices; code <- books(sub).indices
          sdim <- books(sub)(code).indices
        } yield (sub, code, sdim, books(sub)(code)(sdim).toDouble)
        materialize(flat.toDF("sub", "code", "sdim", "w"), "q90_codebooks")
      }
      I.imiAdcTopKWithModels(emb, q, k = 5, c1, c2, books, p = 2)
        .orderBy($"query_id", $"rk")
    }),

    // llmops residual IVFADC (IVFADC proper, Jégou §V.A): codes
    // quantize (vec − coarse centroid); score = centroid_dot +
    // residual reconstruction dot. The oracle adds one CTE to the q88
    // replay: the per-(query, list) centroid term, rebuilt from the
    // dumped centroid table.
    "q91_residual_adc" -> ((s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val cents = I.kmeansCentroids(emb, nlist = 16, iters = 2)
      val books = I.pqCodebooksResidual(emb, cents, m = 8, k = 16, iters = 2)
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      if (materializing) {
        val assigned = emb.where($"embedding".isNotNull).select($"vec_id",
          element_at(I.nearest_centroids($"embedding", cents, 1), 1)
            .as("list_id"), $"embedding")
        materialize(assigned.select($"vec_id", $"list_id"), "q91_assigned")
        materialize(q.select($"query_id",
          explode(I.nearest_centroids($"query_vec", cents, 4))
            .as("list_id")), "q91_probes")
        materialize(assigned.select($"vec_id",
          posexplode(I.pqEncode(
            I.centroid_residual($"embedding", $"list_id", cents), books))
            .as(Seq("sub", "code"))), "q91_codes")
        val flatB = for {
          sub <- books.indices; code <- books(sub).indices
          sdim <- books(sub)(code).indices
        } yield (sub, code, sdim, books(sub)(code)(sdim).toDouble)
        materialize(flatB.toDF("sub", "code", "sdim", "w"), "q91_codebooks")
        val flatC = for {
          (c, list) <- cents.zipWithIndex.toSeq
          (w, sdim) <- c.zipWithIndex.toSeq
        } yield (list, sdim, w.toDouble)
        materialize(flatC.toDF("list_id", "sdim", "w"), "q91_centroids")
      }
      I.ivfAdcResidualTopKWithModels(emb, q, k = 5, cents, books, nprobe = 4)
        .orderBy($"query_id", $"rk")
    }),

    // llmops SQ8 scalar quantization: the first compression tier of
    // the quantizer progression (raw floats → SQ8 → PQ) — 4× smaller
    // scans, near-exact ranking (each dim keeps 8 bits of its own
    // range). Codes and per-dim bounds are dumped; the oracle
    // dequantizes (mn + sc·code) and replays the scoring exactly.
    "q92_sq8_topk" -> ((s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val (mins, scales) = I.sq8Bounds(emb)
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      if (materializing) {
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          posexplode(I.sq8_encode($"embedding", mins, scales))
            .as(Seq("dim", "code"))), "q92_codes")
        materialize(mins.indices
          .map(i => (i, mins(i), scales(i)))
          .toDF("dim", "mn", "sc"), "q92_bounds")
      }
      I.sq8TopKWithBounds(emb, q, k = 5, mins, scales)
        .orderBy($"query_id", $"rk")
    }),

    // llmops persisted ANN index: write the corpus PARTITIONED BY
    // coarse list (codes + models), then answer the query batch by
    // reading ONLY probed partitions — partition pruning makes the
    // nprobe budget an I/O bound. The timed path deliberately includes
    // the index write (the operator's honest cost); the oracle reads
    // the written index FILES themselves (hive-partitioned parquet +
    // the persisted codebook table) and replays candidate generation
    // and ADC scoring from them.
    "q93_ann_index" -> ((s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val A = graft.llmops.AnnIndex
      val emb = t(s, d, "embeddings")
      // the coarse quantizer and the PQ codebooks train independently
      // from the same corpus — overlap their per-iteration jobs
      // (guide §2.6, the AnnIndex.write pattern); both trainings are
      // deterministic collects, so the models are unchanged
      val Seq(centsA, booksA) = graft.llmops.Par.run(Seq[() => AnyRef](
        () => I.kmeansCentroids(emb, nlist = 16, iters = 2),
        () => I.pqCodebooks(emb, m = 8, k = 16, iters = 2)))
      val cents = centsA.asInstanceOf[Array[Array[Float]]]
      val books = booksA.asInstanceOf[Array[Array[Array[Float]]]]
      val idx = "/root/repo/spark-warehouse/q93_index"
      A.writeWithModels(emb, idx, cents, books)
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      if (materializing) {
        materialize(q.select($"query_id",
          explode(I.nearest_centroids($"query_vec", cents, 4))
            .as("list_id")), "q93_probes")
      }
      A.topK(s, idx, q, k = 5, nprobe = 4)
        .orderBy($"query_id", $"rk")
    }),

    // llmops OPQ (Ge et al. CVPR 2013): an orthogonal rotation learned
    // by Procrustes alternation re-axes the corpus before PQ, so the
    // independent per-subspace codebooks stop paying for
    // cross-subspace correlation; rotation preserves inner products,
    // so the rotated-space ADC scan estimates the same raw-space
    // similarity. Oracle contract: the dumped rotation matrix lets
    // DuckDB rotate the raw query vectors itself (double sums
    // truncated to REAL, mirroring the mat_vec kernel), then replay
    // the standard codes ⋈ codebooks reconstruction scoring — the
    // learned model is fully auditable from three relational dumps.
    "q94_opq_topk" -> ((s, d) => {
      import s.implicits._
      val O = graft.llmops.Opq
      val emb = t(s, d, "embeddings")
      val (rot, books) = O.trainOpq(emb, m = 8, k = 16,
        pqIters = 2, opqIters = 2)
      if (materializing) {
        materialize(emb.where($"embedding".isNotNull)
          .select($"vec_id", posexplode(
            graft.llmops.Ivf.pqEncode(O.mat_vec($"embedding", rot), books))
            .as(Seq("sub", "code"))), "q94_codes")
        val flatB = for {
          sub <- books.indices; code <- books(sub).indices
          sdim <- books(sub)(code).indices
        } yield (sub, code, sdim, books(sub)(code)(sdim).toDouble)
        materialize(flatB.toDF("sub", "code", "sdim", "w"), "q94_codebooks")
        val flatR = for { i <- rot.indices; j <- rot(i).indices }
          yield (i, j, rot(i)(j).toDouble)
        materialize(flatR.toDF("i", "j", "w"), "q94_rot")
      }
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      O.opqTopKWithModels(emb, q, k = 5, rot, books)
        .orderBy($"query_id", $"rk")
    }),

    // llmops duplicated-span coverage (Lee et al. 2021): duplication
    // lives at SPAN granularity — boilerplate and quoted passages
    // inside documents that are not near-duplicates as wholes. Each
    // doc explodes to (pos, gram-hash) slim rows (text never
    // shuffles); one count-distinct aggregation finds cross-document
    // repeated 8-grams; covered positions union per doc. Fully
    // relational, so the oracle replays every step from the raw table.
    "q95_dup_spans" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Dedup.duplicateSpanStats(
          t(s, d, "documents"), n = 8, minDocs = 2)
        .select($"doc_id", $"n_tokens", $"dup_grams", $"dup_tokens",
          round($"dup_frac", 4).as("dup_frac"))
        .orderBy($"doc_id")
    }),

    // Semantic near-dup clustering: the embedding-space composition of
    // q85 (IVF-scoped cosine pairs) and q69 (large-star/small-star
    // connected components) — textual MinHash clusters catch verbatim
    // near-dups, this catches paraphrase families. Same relational
    // contract as q69: the edge list is dumped and DuckDB re-derives
    // the components independently (recursive CTE vs the O(log n)
    // star rounds — two different algorithms, one fixpoint).
    "q96_semantic_clusters" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      // nlist 64 = the measured nlist∝n rule at this SF (see q85):
      // fewer lists overflow the maxList cap and pairs vanish
      val cents = graft.llmops.Ivf.kmeansCentroids(emb, nlist = 64, iters = 2)
      val edges = graft.llmops.Dedup.semanticPairsWithCentroids(
          emb, threshold = 0.4, cents, nprobe = 2)
        .select($"id_a", $"id_b")
      materialize(edges, "q96_edges")
      graft.ops.ConnectedComponents.components(edges)
        .groupBy($"component")
        .agg(count(lit(1)).as("n_vecs"),
          array_join(transform(array_sort(collect_list($"id")),
            _.cast("string")), ",").as("members"))
        .orderBy($"component")
    }),

    // llmops model-based quality scoring: logistic regression over
    // hashed bag-of-words features, trained distributed (two slim
    // shuffles per epoch, <=65536 gradient doubles to the driver) to
    // distill the fixed quality heuristic into a learned scorer — the
    // GPT-3/CCNet classifier stage. Scoring is pure dataflow
    // (explode -> broadcast weight join -> sum -> sigmoid), so the
    // dumped weight table lets DuckDB replay every probability; the
    // training loop itself (like Lloyd) has no SQL analog.
    "q97_quality_model" -> ((s, d) => {
      import s.implicits._
      val Q = graft.llmops.QualityModel
      val docs = t(s, d, "documents")
      val labeled = docs.withColumn("label",
        (graft.llmops.TextFuncs.qualityScore($"text") >= 1.0).cast("int"))
      val (w, b) = Q.train(labeled)
      if (materializing)
        materialize(Q.weightsTable(docs, w, b), "q97_weights")
      Q.score(docs, w, b)
        .select($"doc_id", round($"prob", 4).as("prob"),
          ($"prob" >= 0.5).cast("int").as("pred"))
        .orderBy($"doc_id")
    }),

    // llmops quality-weighted importance sampling (the GPT-3 corpus
    // mixing move): keep probability rises with the quality score
    // (score^2 here), the uniform draw is the doc's md5-prefix hash —
    // deterministic under reruns/appends, a pure per-row predicate
    // that pushes to the scan. Fully relational (the heuristic score
    // has a SQL replica, q21), so the oracle recomputes every fate.
    "q98_quality_sample" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      docs
        .withColumn("qs", graft.llmops.TextFuncs.qualityScore($"text"))
        .withColumn("keep",
          graft.llmops.Splits.importanceKeep($"qs", $"text", 2.0))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
          round(avg($"qs"), 4).as("avg_quality"))
        .orderBy($"source")
    }),

    // llmops LM-perplexity scoring (CCNet): an add-k bigram LM is a
    // pair of count tables — training is one aggregation each, the
    // model is relational data, and scoring is explode -> two joins ->
    // -log. Self-perplexity here (repetition scores LOW, gibberish
    // HIGH); the uni/bi params are the seam for a curated reference
    // LM. Oracle replays every score from the dumped count tables.
    "q99_lm_perplexity" -> ((s, d) => {
      import s.implicits._
      val L = graft.llmops.LangModel
      val docs = t(s, d, "documents")
      val uni = L.unigramCounts(docs, $"text")
      val bi = L.bigramCounts(docs, $"text")
      if (materializing) {
        materialize(uni, "q99_unigrams")
        materialize(bi, "q99_bigrams")
      }
      L.nllScores(docs, uni, bi, k = 0.5)
        .select($"doc_id", $"n_bigrams", round($"avg_nll", 4).as("avg_nll"))
        .orderBy($"doc_id")
    }),

    // llmops DSIR importance resampling (Xie et al. 2023): pick raw
    // docs whose hashed-n-gram distribution matches a target corpus
    // (here: the English slice as the curated-seed proxy). The model
    // is the per-bucket log-ratio table — dumped, so the oracle
    // replays every feature count, importance weight, and the
    // Gumbel-top-k selection itself from it.
    "q100_dsir_select" -> ((s, d) => {
      import s.implicits._
      val D = graft.llmops.Dsir
      val docs = t(s, d, "documents")
      // ONE pinned featureCounts pass feeds fit-target (en semi-join
      // slice), fit-raw and scoring — the corpus tokenizes once, not
      // three times; bit-exact per the FromCounts contracts
      val perDoc = D.featureCounts(docs).localCheckpoint(false)
      val enIds = docs.filter($"lang" === "en").select($"doc_id".as("id"))
      val ratios = D.logRatiosFromCounts(
        perDoc.join(enIds, Seq("id"), "left_semi"), perDoc)
      if (materializing) materialize(ratios, "q100_ratios")
      val scored = D.importanceScoresFromCounts(perDoc, ratios)
        .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
      D.gumbelTopK(
          scored.join(docs.select($"doc_id", $"text"), Seq("doc_id")),
          k = 100, keyCol = $"text")
        .select($"doc_id", $"lang", round($"logw", 4).as("logw"),
          $"sel_key")
        .orderBy($"doc_id")
    }),

    // llmops temperature-based corpus mixing (mT5/XLM-R sampling
    // rule, the Pile's per-source epochs): weights ∝ n_tokens^α,
    // token budget realized as per-source rates/epochs, applied via
    // the deterministic md5-uniform keep. Fully relational — the
    // oracle recomputes the whole mixture table and every keep fate.
    "q101_temperature_mix" -> ((s, d) => {
      import s.implicits._
      val M = graft.llmops.Mixture
      val docs = t(s, d, "documents")
      val weights = M.temperatureWeights(docs, alpha = 0.7,
        tokenBudget = 30000L)
      val kept = M.applyRates(docs, weights)
        .groupBy($"source")
        .agg(sum(when($"keep", 1L).otherwise(0L)).as("n_kept"))
      weights.join(kept, Seq("source"))
        .select($"source", $"n_docs", $"n_tokens", $"weight", $"rate",
          $"epochs", $"n_kept")
        .orderBy($"source")
    }),

    // llmops CCNet head/middle/tail bucketing (Wenzek et al. 2020):
    // per-LANGUAGE perplexity terciles — the thresholds are dumped so
    // the oracle replays scoring from the dumped count tables and
    // bucket assignment from the threshold table.
    "q102_ccnet_buckets" -> ((s, d) => {
      import s.implicits._
      val L = graft.llmops.LangModel
      val B = graft.llmops.Binning
      val docs = t(s, d, "documents")
      val uni = L.unigramCounts(docs, $"text")
      val bi = L.bigramCounts(docs, $"text")
      val scored = L.nllScores(docs, uni, bi, k = 0.5)
        // bucket on the 4-dp score (cross-engine determinism) but mean
        // the RAW one: a mean of already-rounded values lands exactly
        // on .00005 midpoints where engines' round modes disagree
        .withColumn("nll_raw", $"avg_nll")
        .withColumn("avg_nll", round($"avg_nll", 4))
        .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
      val thr = B.groupQuantileThresholds(scored, $"lang", $"avg_nll",
        Seq(1.0 / 3, 2.0 / 3))
      if (materializing) {
        materialize(uni, "q102_unigrams")
        materialize(bi, "q102_bigrams")
        materialize(thr, "q102_thresholds")
      }
      B.groupBins(scored, thr, $"lang", $"avg_nll", "bucket")
        .groupBy($"lang", $"bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(avg($"nll_raw"), 4).as("mean_nll"))
        .orderBy($"lang", $"bucket")
    }),

    // llmops BM25 retrieval (Okapi, Lucene idf form): query-term
    // broadcast semi-join inside the tokenize scan, dl rides the
    // posting rows, TakeOrdered top-k. Fully relational — the oracle
    // recomputes tf/df/idf/avgdl and every score.
    "q103_bm25_topk" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      graft.llmops.Bm25.topK(docs,
          Seq("vector", "window", "merge", "stream"), k = 20)
        .select($"doc_id", $"n_terms_hit", $"score")
        .orderBy($"doc_id")
    }),

    // approx-percentile contract (the q63/q74 estimate-contract
    // pattern): the sketch's guarantee is on RANK, not value (a value
    // tolerance breaks on small groups where adjacent order stats are
    // >5% apart), so the contract checks the rank of the returned
    // element: count(v ≤ approx)/n within ±(0.05 + 1/n) of the target
    // percentile. A sketch regression goes red even though the sketch
    // is self-consistent. At 100 TB the sketch (bounded memory, one
    // pass, mergeable) is the only viable global-quantile path; the
    // exact side here is the contract harness.
    "q104_approx_quantile" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val apx = docs.groupBy($"source")
        .agg(
          percentile($"n_chars", lit(0.5)).as("p50_exact"),
          percentile($"n_chars", lit(0.9)).as("p90_exact"),
          percentile_approx($"n_chars", lit(0.5), lit(1000)).as("p50a"),
          percentile_approx($"n_chars", lit(0.9), lit(1000)).as("p90a"))
      docs.join(broadcast(apx), Seq("source"))
        .groupBy($"source", $"p50_exact", $"p90_exact", $"p50a", $"p90a")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(when($"n_chars" <= $"p50a", 1.0).otherwise(0.0)).as("r50"),
          sum(when($"n_chars" <= $"p90a", 1.0).otherwise(0.0)).as("r90"))
        .select($"source",
          round($"p50_exact", 4).as("p50_exact"),
          round($"p90_exact", 4).as("p90_exact"),
          (abs($"r50" / $"n" - 0.5) <= lit(0.05) + lit(1.0) / $"n")
            .as("p50_ok"),
          (abs($"r90" / $"n" - 0.9) <= lit(0.05) + lit(1.0) / $"n")
            .as("p90_ok"))
        .orderBy($"source")
    }),

    // llmops DSIR scalar gate (the shuffle-free logwColumn kernel that
    // gates streams and Corpus.clean): per-source keep counts under an
    // importance floor. The oracle replays the per-OCCURRENCE log-ratio
    // sum from the dumped table — this puts the scalar scoring path
    // under the cross-engine gate, complementing q100's join path.
    "q105_dsir_gate" -> ((s, d) => {
      import s.implicits._
      val D = graft.llmops.Dsir
      val docs = t(s, d, "documents")
      val ratios = D.logRatios(docs.filter($"lang" === "en"), docs)
      if (materializing) materialize(ratios, "q105_ratios")
      val (m, dflt) = D.ratioMap(ratios)
      docs
        .withColumn("logw", D.logwColumn($"text", m, dflt))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"logw" >= 0.0, 1L).otherwise(0L)).as("n_kept"),
          round(avg($"logw"), 4).as("avg_logw"))
        .orderBy($"source")
    }),

    // Heavy-hitters contract (Misra-Gries, the q63/q104
    // estimate-contract pattern): exact heavy hitters need a
    // full-corpus shuffle of one row per DISTINCT item — at 100 TB
    // (distinct tokens/domains ~ billions) that's the wrong plan for a
    // top-handful question. The MG summary holds ≤ k counters per
    // partition, merges with the Agarwal et al. counter-offset rule,
    // and guarantees: no overcount, undercount ≤ n/(k+1), and every
    // item with true share > 1/(k+1) present. The synthetic tables are
    // deliberately uniform (no natural heavy hitter), so the item
    // stream here manufactures a deterministic Zipf-ish skew from the
    // engine's md5-uniform trick: u ∈ (0,1] from the row key, item =
    // floor(1/u) → P(item=j) = 1/j − 1/(j+1) ≈ j⁻² (item "1" carries
    // half the stream; hundreds of distinct tail items force
    // evictions). The exact-count side is the contract harness, not
    // the operator (q74 precedent).
    "q106_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      val k = 16
      val u = (conv(substring(md5(concat_ws("-", $"l_orderkey",
          $"l_linenumber")), 1, 8), 16, 10).cast("double") + 1.0) /
        4294967296.0
      val items = t(s, d, "lineitem")
        .select(floor(lit(1.0) / u).cast("long").cast("string").as("item"))
      val mg = items.agg(graft.llmops.Freq.freqItems($"item", k).as("sm"))
        .select(explode($"sm").as("e"))
        .select($"e.item".as("item"), $"e.est".as("est"))
      val exact = items.groupBy($"item").agg(count(lit(1)).as("n_exact"))
      val tot = items.agg(count(lit(1)).cast("double").as("n"))
      exact.crossJoin(broadcast(tot))
        .filter($"n_exact" > $"n" / (k + 1))
        .join(mg, Seq("item"), "left")
        .select($"item", $"n_exact",
          $"est".isNotNull.as("present_ok"),
          ($"est".isNotNull && $"est" <= $"n_exact" &&
            $"est" >= $"n_exact" - $"n" / (k + 1)).as("bound_ok"))
        .orderBy($"item")
    }),

    // Corpus-overlap contract (KMV bottom-k sketch): "how much of
    // corpus A is in corpus B" — the contamination/overlap number —
    // exactly needs a distinct-join of both corpora; the KMV sketch
    // answers it from 2·k longs. HLL (q63/q68) can't: it unions but
    // doesn't intersect. The bottom-k of the union of two bottom-k
    // sketches IS the bottom-k of the union set, and its members'
    // joint presence in both sketches estimates Jaccard (Bar-Yossef et
    // al. 2002; Beyer et al. SIGMOD 2007). Overlapping doc slices
    // (doc_id%2 vs doc_id%3 → true J = 1/4) make the estimate
    // non-trivial; the estimator is deterministic (xxhash64, no RNG),
    // so the tolerance is a regression tripwire, not a probabilistic
    // bet. Exact side = contract harness.
    "q107_kmv_overlap" -> ((s, d) => {
      import s.implicits._
      val k = 256
      val F = graft.llmops.Freq
      // text IS NOT NULL on BOTH sides: the sketch hashes non-null
      // texts only, so the exact side must be defined over the same
      // distinct-text set or a null-text fixture would silently skew
      // the contract's denominator.
      val docs = t(s, d, "documents").filter($"text".isNotNull)
      val sa = docs.filter($"doc_id" % 2 === 0)
        .agg(F.kmvSketch(xxhash64($"text"), k).as("ka"))
      val sb = docs.filter($"doc_id" % 3 === 0)
        .agg(F.kmvSketch(xxhash64($"text"), k).as("kb"))
      val est = sa.crossJoin(sb)
        .select(F.kmvJaccard($"ka", $"kb", k).as("j_est"))
      val flags = docs
        .filter($"doc_id" % 2 === 0 || $"doc_id" % 3 === 0)
        .groupBy($"text")
        .agg(max(when($"doc_id" % 2 === 0, 1).otherwise(0)).as("ia"),
          max(when($"doc_id" % 3 === 0, 1).otherwise(0)).as("ib"))
      val ex = flags.agg(
        (sum(when($"ia" === 1 && $"ib" === 1, 1.0).otherwise(0.0)) /
          count(lit(1))).as("j_exact"))
      ex.crossJoin(est).select(
        round($"j_exact", 4).as("j_exact"),
        (abs($"j_est" - $"j_exact") <= 0.12).as("overlap_ok"))
    }),

    // llmops REAL image decode (javax.imageio): solid-gray PNGs are
    // planted with dimensions/shade that are pure arithmetic on
    // doc_id, decoded distributed (payloads never on the driver), and
    // the oracle predicts every recovered stat without touching a
    // byte — including NULLs for the every-37th truncated payload.
    // This is the honest multimodal gate q35's stub couldn't be: the
    // decoder is the JDK's actual PNG reader, not a byte-fold.
    "q108_image_decode" -> ((s, d) => {
      import s.implicits._
      val M = graft.llmops.Multimodal
      val assets = M.plantedImages(s, t(s, d, "documents")
        .filter($"doc_id" % 11 === 0))
      M.decodeImageStats(s, assets).toDF()
        .select($"asset_id", $"width", $"height", $"bands",
          round($"mean_luma", 4).as("mean_luma"))
        .orderBy($"asset_id")
    }),

    // llmops unigram-LM tokenizer seed (Kudo 2018): candidate pieces =
    // every substring of length ≤ 3 of every dictionary word, weighted
    // by word frequency — the q84 shape generalized from adjacent
    // pairs to the unigram trainer's seed set. (The EM loop itself is
    // differential-tested in VocabSpec, like BPE's merge loop.)
    "q109_unigram_seed" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Vocab.unigramSeedCounts(
          t(s, d, "documents"), $"text", maxLen = 3)
        .orderBy($"cnt".desc, $"piece")
        .limit(30)
    }),

    // llmops ANN index lifecycle: q93's contract run against an index
    // built by write-then-APPEND — the even half written with the
    // trained models, the odd half appended from the PERSISTED models
    // only. The oracle replays candidate join → reconstruction →
    // ranking from the appended index FILES, so it proves the
    // append landed correct codes in correct list partitions and that
    // serving reads them exactly like original rows (no retrain, no
    // rewrite). AnnIndexSpec separately pins append ≡ fresh-full-write.
    "q110_ann_append" -> ((s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val A = graft.llmops.AnnIndex
      val emb = t(s, d, "embeddings")
      // overlapped independent trainings — see q93
      val Seq(centsA, booksA) = graft.llmops.Par.run(Seq[() => AnyRef](
        () => I.kmeansCentroids(emb, nlist = 16, iters = 2),
        () => I.pqCodebooks(emb, m = 8, k = 16, iters = 2)))
      val cents = centsA.asInstanceOf[Array[Array[Float]]]
      val books = booksA.asInstanceOf[Array[Array[Array[Float]]]]
      val idx = "/root/repo/spark-warehouse/q110_index"
      A.writeWithModels(emb.filter($"vec_id" % 2 === 0), idx, cents, books)
      A.append(s, emb.filter($"vec_id" % 2 =!= 0), idx)
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      if (materializing) {
        materialize(q.select($"query_id",
          explode(I.nearest_centroids($"query_vec", cents, 4))
            .as("list_id")), "q110_probes")
      }
      A.topK(s, idx, q, k = 5, nprobe = 4)
        .orderBy($"query_id", $"rk")
    }),

    // llmops positional Gopher repetition rules (Rae et al. 2021
    // Table A1): per-document most-frequent-2-gram count and unioned
    // coverage of duplicated 2-grams, in exact integer token space —
    // the within-doc sibling of q95's cross-doc span coverage. All
    // outputs integers: no float-ordering hazard anywhere.
    "q111_doc_repetition" -> ((s, d) => {
      import s.implicits._
      graft.llmops.TextFuncs.repetitionStats(
          t(s, d, "documents").filter($"doc_id" < 200), n = 2)
        .orderBy($"doc_id")
    }),

    // llmops interpolated Kneser-Ney perplexity — the smoothing KenLM
    // (CCNet's actual LM) implements, upgrading q99's add-k floor:
    // unseen mass is redistributed by continuation TYPE counts, all
    // derived relationally from the bigram table alone. Trained on
    // the English slice and scoring EVERY doc, so the unseen-history
    // backoff branch is exercised; the oracle re-derives history,
    // continuation, and both scalars from the single dumped table.
    "q112_kn_perplexity" -> ((s, d) => {
      import s.implicits._
      val L = graft.llmops.LangModel
      val docs = t(s, d, "documents")
      val bi = L.bigramCounts(docs.filter($"lang" === "en"), $"text")
      if (materializing) materialize(bi, "q112_bigrams")
      L.knNllScores(docs, bi, d = 0.75)
        .select($"doc_id", $"n_bigrams", round($"avg_nll", 4).as("avg_nll"))
        .orderBy($"doc_id")
    }),

    // llmops perceptual image near-dup (the LAION-style image-dedup
    // path): REAL decoded pixels → 64-bit dHash (exact integer
    // gradient signs, so any engine reproduces it bit-for-bit) → the
    // same banded-Hamming join text SimHash rides. The planted PNGs'
    // pixel values depend only on the 9×8 grid cell, so the oracle
    // predicts every 64-bit hash in closed form WITHOUT decoding a
    // byte — and its all-pairs join checks the LSH path's
    // completeness guarantee at Hamming ≤ 3 (4 bands, pigeonhole).
    "q113_image_dhash" -> ((s, d) => {
      import s.implicits._
      val M = graft.llmops.Multimodal
      val assets = M.plantedHashImages(s,
        t(s, d, "documents").filter($"doc_id" % 17 === 0))
      M.imageNearDupPairs(M.imageDHashes(s, assets), maxHamming = 3)
        .select($"id_a".cast("long").as("id_a"),
          $"id_b".cast("long").as("id_b"),
          $"hamming".cast("long").as("hamming"))
        .orderBy($"id_a", $"id_b")
    }),

    // llmops REAL audio decode: canonical RIFF/WAVE PCM needs no codec
    // library — the parse is ByteBuffer arithmetic, so WAV decode is
    // as real as q108's imageio path. Planted mono square waves have
    // closed-form stats (mean |sample| = amplitude, zero crossings =
    // floor((n-1)/half), duration = n/8 ms), so the oracle predicts
    // every recovered value without parsing a byte — including NULLs
    // for the every-37th truncated payload.
    "q114_audio_decode" -> ((s, d) => {
      import s.implicits._
      val A = graft.llmops.Audio
      val assets = A.plantedAudio(s, t(s, d, "documents")
        .filter($"doc_id" < 500))
      A.decodeAudioStats(s, assets).toDF()
        .select($"asset_id", $"sample_rate", $"channels", $"n_frames",
          $"duration_ms", round($"mean_abs", 4).as("mean_abs"),
          $"zero_crossings")
        .orderBy($"asset_id")
    }),

    // llmops audio near-dup: REAL decoded samples → 64-bit energy
    // dHash (integer frame energies, gradient-sign bits — the 1-D
    // sibling of q113's spatial dHash, volume-invariant because
    // energy is quadratic in amplitude) → the same banded-Hamming
    // join. Planted clips' frame energies depend only on (group,
    // frame), so the oracle predicts every hash in closed form and
    // its all-pairs join checks LSH completeness at Hamming ≤ 3.
    "q115_audio_fingerprint" -> ((s, d) => {
      import s.implicits._
      val A = graft.llmops.Audio
      val assets = A.plantedFingerprintAudio(s, t(s, d, "documents")
        .filter($"doc_id" % 17 === 0))
      A.audioNearDupPairs(A.audioEnergyHashes(s, assets), maxHamming = 3)
        .select($"id_a".cast("long").as("id_a"),
          $"id_b".cast("long").as("id_b"),
          $"hamming".cast("long").as("hamming"))
        .orderBy($"id_a", $"id_b")
    }),

    // llmops exact training-sequence packing (the loader layout
    // q57's coarse bin assignment approximates): the global token
    // stream sliced into fixed 256-token sequences with boundary-
    // straddling fragments and zero padding. The one global construct
    // — the prefix sum in doc order — runs as range-bucketed windows
    // plus a ≤|buckets|-row offset table, never a single-task sort;
    // the oracle replays it with a plain global window.
    "q116_pack_sequences" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
        .select($"doc_id",
          graft.llmops.TextFuncs.tokenCount($"text").as("n_toks"))
      graft.llmops.Packing.packSequences(docs, seqLen = 256)
        .select($"seq_id", $"id".as("doc_id"), $"doc_offset",
          $"seq_offset", $"n_toks")
        .orderBy($"seq_id", $"doc_id")
    }),

    // llmops REAL multi-frame decode: animated GIF is the one
    // frame-sequence container the JDK decodes without codec libs,
    // so the 1-asset→n-frame explode (q35's sampleFrames shape) runs
    // over ACTUAL decoded frames here. Planted solid-gray frames have
    // shade (13·id + 31·f) mod 200, so the oracle predicts every
    // frame row — count, dimensions, exact mean — without decoding a
    // byte; the every-37th truncated payload (GIF magic intact,
    // body gone) must contribute ZERO rows, never a task failure.
    "q117_frame_decode" -> ((s, d) => {
      import s.implicits._
      val M = graft.llmops.Multimodal
      val assets = M.plantedGifs(s, t(s, d, "documents")
        .filter($"doc_id" % 13 === 0))
      M.decodeVideoFrameStats(s, assets).toDF()
        .select($"asset_id", $"frame_index", $"width", $"height",
          round($"mean_luma", 4).as("mean_luma"))
        .orderBy($"asset_id", $"frame_index")
    }),

    // llmops REAL PDF text extraction — the document modality, and
    // the reference's actual payload type (it downloads PDF earnings
    // reports and parses them; reference README.md:80-82, 149-162).
    // Planted three-line PDFs (Flate-compressed content streams,
    // literal strings with escaped parens, a TJ array with kern
    // numbers and a hex-string half) carry text that is pure
    // arithmetic on doc_id, so the oracle predicts the EXACT
    // extracted string without parsing a byte; every 37th payload is
    // truncated to 8 bytes and must extract to nulls, never a task
    // failure.
    "q118_pdf_extract" -> ((s, d) => {
      import s.implicits._
      val P = graft.llmops.Pdf
      val assets = P.plantedPdfs(s, t(s, d, "documents")
        .filter($"doc_id" % 11 === 0))
      P.extractPdfText(s, assets).toDF()
        .select($"asset_id", $"n_chars", $"text")
        .orderBy($"asset_id")
    }),

    // The document modality end-to-end on REAL corpus text: every 7th
    // document is rendered into an actual PDF (escaped literal string,
    // Flate-compressed content stream) and extracted back — the oracle
    // is a STRAIGHT read of the documents table, so the whole
    // encoder→deflate→stream-scan→inflate→string-parser path must
    // reproduce every corpus byte (md5-pinned) to pass.
    "q119_pdf_roundtrip" -> ((s, d) => {
      import s.implicits._
      val P = graft.llmops.Pdf
      val docs = t(s, d, "documents")
        .filter($"text".isNotNull && $"doc_id" % 7 === 0)
      P.extractPdfText(s, P.encodeCorpusPdfs(s, docs)).toDF()
        .select($"asset_id", $"n_chars",
          md5($"text".cast("binary")).as("text_md5"))
        .orderBy($"asset_id")
    }),

    // The media-decoder EXPRESSION face under the oracle gate: the
    // SQL-registered image_dhash runs inside a plain spark.sql
    // projection (no Dataset path anywhere), banded 4x16-bit in SQL —
    // and the oracle predicts every hash in closed form from the q113
    // fixture arithmetic, then replays the same banding. Pins that the
    // codegen expression computes THE hash, not merely a hash.
    "q120_dhash_expr" -> ((s, d) => {
      import s.implicits._
      val M = graft.llmops.Multimodal
      M.plantedHashImages(s, t(s, d, "documents")
        .filter($"doc_id" % 17 === 0)).toDF()
        .createOrReplaceTempView("q120_assets")
      s.sql("""SELECT band, band_hash, count(*) AS n FROM (
           SELECT b.band,
                  shiftright(image_dhash(content), b.band * 16) & 65535
                    AS band_hash
           FROM q120_assets,
                (VALUES (0), (1), (2), (3)) AS b(band)
           WHERE image_dhash(content) IS NOT NULL)
         GROUP BY band, band_hash ORDER BY band, band_hash""")
    }),

    // WARC crawl-archive source (ISO 28500): every 3rd document is
    // wrapped in an HTML page, framed as an HTTP response record, and
    // packed into multi-record WARC files (16 of them, alternating
    // plain / one-gzip-member-per-record layout — built and parsed
    // entirely inside the tasks, file bytes never on the driver). The
    // parsed rows must reproduce URI/status/byte-length exactly as the
    // oracle predicts them straight from the documents table — the
    // whole frame→HTTP-parse→body-slice path is on the hook.
    "q121_warc_scan" -> ((s, d) => {
      import s.implicits._
      val W = graft.io.Warc
      val files = t(s, d, "documents")
        .filter($"doc_id" % 3 === 0)
        .select($"doc_id", $"source", $"text")
        .as[(Long, String, String)]
        .groupByKey(_._1 % 16)
        .mapGroups { (g, it) =>
          val docs = it.toSeq.sortBy(_._1)
          val recs = W.encodeWarcinfo(s"part-$g.warc",
            "2026-01-01T00:00:00Z") +:
            docs.map { case (id, src, text) =>
              val html = s"""<html><body><p>$text</p><a href="/next/$id">n</a></body></html>"""
              W.encodeResponse(s"https://$src.example.com/doc/$id",
                "2026-01-01T00:00:00Z",
                html.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
            }
          W.encodeFile(recs, gzip = g % 2 == 0)
        }
      files.flatMap(W.parseRecords)
        .filter(_.warc_type == "response")
        .map(r => (r.target_uri.getOrElse(""),
          r.http_status.getOrElse(-1), r.content.length.toLong))
        .toDF("target_uri", "http_status", "n_bytes")
        .orderBy($"target_uri")
    }),

    // The reference's ACTUAL flow end-to-end: crawl archive → PDF
    // payload → extracted text. Every 5th document's text is rendered
    // into a real PDF, framed as an application/pdf HTTP response in
    // multi-record WARC files, parsed back by the WARC source, and the
    // text recovered by the pdf_text EXPRESSION — three codecs
    // composed, and the oracle is still a straight md5-pinned read of
    // the documents table.
    "q122_warc_pdf_pipeline" -> ((s, d) => {
      import s.implicits._
      val W = graft.io.Warc
      val files = t(s, d, "documents")
        .filter($"text".isNotNull && $"doc_id" % 5 === 0)
        .select($"doc_id", $"source", $"text")
        .as[(Long, String, String)]
        .groupByKey(_._1 % 8)
        .mapGroups { (g, it) =>
          val docs = it.toSeq.sortBy(_._1)
          val recs = W.encodeWarcinfo(s"pdfs-$g.warc",
            "2026-01-01T00:00:00Z") +:
            docs.map { case (id, src, text) =>
              W.encodeResponse(s"https://$src.example.com/reports/$id.pdf",
                "2026-01-01T00:00:00Z",
                graft.llmops.Pdf.PdfCodec.encodePdf(Seq(text)),
                httpContentType = "application/pdf")
            }
          W.encodeFile(recs, gzip = g % 2 == 0)
        }
      files.flatMap(W.parseRecords)
        .filter(r => r.warc_type == "response" &&
          r.http_content_type.contains("application/pdf"))
        .map(r => (r.target_uri.getOrElse(""), r.content))
        .toDF("target_uri", "content")
        .select($"target_uri",
          md5(graft.llmops.MediaExprs.pdf_text($"content").cast("binary"))
            .as("text_md5"))
        .orderBy($"target_uri")
    }),

    // URL canonicalization — the crawl-scale visited-set key: messy
    // URLs (uppercase scheme/host, default port, duplicate slashes,
    // dot segments, tracking params, unsorted query, fragment) built
    // per doc must collapse to the EXACT canonical the oracle
    // constructs directly. Pure narrow projection; the only shuffle is
    // the count.
    "q123_canonical_url" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .withColumn("messy",
          concat(lit("HTTPS://"), upper($"source"),
            lit(".Example.COM:443/docs//"), $"doc_id", lit("/../"),
            $"doc_id", lit(".pdf?utm_source=x&b=2&a=1#sec")))
        .groupBy(graft.expr.UrlFuncs.canonical_url($"messy").as("canonical"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"canonical")
    }),

    // Unicode normalization tier (X92): NFC / strip-accents / clean-text
    // over per-doc messy strings the oracle reconstructs byte-identically
    // with DuckDB's own nfc_normalize/strip_accents/regexp pipeline.
    "q124_unicode_norm" -> ((s, d) => {
      import s.implicits._
      import graft.expr.NormFuncs._
      t(s, d, "documents")
        .filter($"doc_id" % 7 === 0)
        .withColumn("messy",
          concat(lit("A\u0301"), substring($"text", 1, 24),
            lit("\t Nun\u0303ez\u000B\u000C x\u007F  ")))
        .select($"doc_id",
          md5(nfc_norm($"messy")).as("nfc_md5"),
          md5(strip_accents($"messy")).as("plain_md5"),
          md5(clean_text($"messy")).as("clean_md5"),
          length(clean_text($"messy")).as("n_clean"))
        .orderBy($"doc_id")
    }),

    // robots.txt politeness (X93): RFC 9309 group selection (named over
    // *), longest-match precedence, Allow tie-break, $-anchored
    // wildcards — every verdict predicted closed-form from doc_id.
    "q125_robots_policy" -> ((s, d) => {
      import s.implicits._
      val robots =
        """# graft politeness fixture
          |User-agent: graftbot-images
          |Disallow: /
          |
          |User-agent: graftbot
          |Disallow: /private/
          |Allow: /private/open/
          |Disallow: /*.pdf$
          |Crawl-delay: 2.5
          |Sitemap: https://ex.com/sitemap.xml
          |Sitemap: https://ex.com/news.xml
          |
          |User-agent: *
          |Disallow: /
          |""".stripMargin
      t(s, d, "documents")
        .filter($"doc_id" % 5 === 0)
        .withColumn("path",
          when($"doc_id" % 4 === 0, concat(lit("/private/p"), $"doc_id"))
            .when($"doc_id" % 4 === 1, concat(lit("/private/open/p"), $"doc_id"))
            .when($"doc_id" % 4 === 2, concat(lit("/docs/r"), $"doc_id", lit(".pdf")))
            .otherwise(concat(lit("/docs/r"), $"doc_id", lit(".html"))))
        .select($"doc_id",
          Graft.robotsAllowed(lit(robots), lit("graftbot/1.0"),
            concat(lit("https://ex.com"), $"path")).as("allowed"),
          size(Graft.robotsSitemaps(lit(robots))).as("n_sitemaps"),
          Graft.robotsCrawlDelay(lit(robots), lit("graftbot/1.0"))
            .as("delay_s"))
        .orderBy($"doc_id")
    }),

    // Sitemap extraction (X94): urlset + index entries, entity-decoded
    // and CDATA locs, optional per-entry fields — the generator's rows
    // predicted closed-form per doc_id.
    "q126_sitemap_extract" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .filter($"doc_id" % 6 === 0)
        .withColumn("xml", concat(
          lit("<?xml version=\"1.0\"?>\n" +
            "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
            " <url><loc>https://s.ex.com/d"), $"doc_id",
          lit("/p0</loc><lastmod>2026-08-01</lastmod>" +
            "<priority>0.5</priority></url>\n <url><loc>https://s.ex.com/d"),
          $"doc_id",
          lit("/p1?a=1&amp;b=2</loc></url>\n" +
            " <url><loc><![CDATA[https://s.ex.com/d"), $"doc_id",
          lit("/p2]]></loc><changefreq>daily</changefreq></url>\n</urlset>")))
        .select($"doc_id", Graft.extractSitemap($"xml")
          .as(Seq("kind", "loc", "lastmod", "changefreq", "priority")))
        .orderBy($"doc_id", $"loc")
    }),

    // CDX-style archive index (X95): real WARC shards written by the
    // tasks, indexed to (uri, file, offset, length) rows, then every
    // payload recovered by RANGED point reads off the index alone —
    // the oracle md5-pins each body straight against the documents
    // table, so a wrong offset, member bound, or slice anywhere fails.
    "q127_warc_cdx" -> ((s, d) => {
      import s.implicits._
      val W = graft.io.Warc
      val dir = java.nio.file.Files.createTempDirectory("graft_cdx_q127")
        .toFile.getAbsolutePath
      t(s, d, "documents")
        .filter($"doc_id" % 4 === 1)
        .select($"doc_id", $"source", $"text")
        .as[(Long, String, String)]
        .groupByKey(_._1 % 12)
        .mapGroups { (g, it) =>
          val docs = it.toSeq.sortBy(_._1)
          val recs = W.encodeWarcinfo(s"part-$g.warc",
            "2026-01-01T00:00:00Z") +:
            docs.map { case (id, src, text) =>
              val html = s"<html><body><p>$text</p></body></html>"
              W.encodeResponse(s"https://$src.example.com/cdx/$id",
                "2026-01-01T00:00:00Z",
                html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
          val gz = g % 2 == 0
          (s"part-$g.warc" + (if (gz) ".gz" else ""),
            W.encodeFile(recs, gz))
        }
        // task-side shard write (the archive-writer pattern; shared FS)
        .foreach { case (name, bytes) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, name), bytes): Unit
        }
      val idx = W.cdxIndex(s, dir + "/*")
        .filter($"warc_type" === "response")
      W.fetchRecords(s, idx)
        .select($"target_uri", md5($"content").as("body_md5"),
          $"http_status")
        .orderBy($"target_uri")
    }),

    // Cross-document line boilerplate removal (X97): nav/footer lines
    // planted into every doc are dropped corpus-wide, per-doc unique
    // lines survive in order — the whole rule replayed relationally.
    "q128_line_boilerplate" -> ((s, d) => {
      import s.implicits._
      val messy = t(s, d, "documents")
        .filter($"doc_id" % 3 === 0)
        .select($"doc_id", concat(
          lit("NAV MENU HOME\n"), $"text",
          lit("\nunique "), $"doc_id",
          lit("\nCOPYRIGHT 2026 FOOTER")).as("mtext"))
      graft.llmops.TextFuncs
        .dropBoilerplateLines(messy, minDocs = 2, textCol = "mtext")
        .select($"doc_id", md5($"mtext").as("clean_md5"),
          length($"mtext").as("n_chars"))
        .orderBy($"doc_id")
    }),

    // Line-shape quality signals (X98): duplicate-line and
    // terminal-punctuation fractions (FineWeb/C4 heuristics), the
    // whole rule replayed relationally over the same planted lines.
    "q129_line_quality" -> ((s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      t(s, d, "documents")
        .filter($"doc_id" % 5 === 2)
        .withColumn("mtext", concat($"text",
          lit("\nmenu item\nmenu item\nA proper sentence."),
          when($"doc_id" % 2 === 0, lit("\nAnother one!"))
            .otherwise(lit(""))))
        .select($"doc_id",
          T.duplicateLineFraction($"mtext").as("dup_line_frac"),
          T.terminalPunctLineFraction($"mtext").as("punct_line_frac"))
        .orderBy($"doc_id")
    }),

    // Sentence segmentation (X99): abbreviation-guarded boundaries —
    // "Dr." and "Inc." must not split, ! and ? must — every sentence
    // predicted closed-form from the planted construction.
    "q130_sentences" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .filter($"doc_id" % 6 === 3)
        .withColumn("prose", concat(
          lit("First part about "), $"source",
          lit(". Dr. Smith of Acme Inc. spoke! Was it "), $"doc_id",
          lit("? The end.")))
        .withColumn("sents", Graft.splitSentences($"prose"))
        .select($"doc_id",
          size($"sents").as("n_sent"),
          md5(element_at($"sents", 1)).as("first_md5"),
          md5(element_at($"sents", 3)).as("third_md5"))
        .orderBy($"doc_id")
    }),

    // Sentence-aligned retrieval chunking (X100): the same planted
    // sentences as q130 packed to a 40-char budget — the cumulative
    // sum, chunk assignment, and reassembly replayed relationally.
    "q131_sentence_chunks" -> ((s, d) => {
      import s.implicits._
      val prose = t(s, d, "documents")
        .filter($"doc_id" % 6 === 3)
        .select($"doc_id", concat(
          lit("First part about "), $"source",
          lit(". Dr. Smith of Acme Inc. spoke! Was it "), $"doc_id",
          lit("? The end.")).as("text"))
      graft.llmops.Chunking.sentenceChunks(prose, targetChars = 40)
        .select($"doc_id", $"chunk_idx",
          md5($"chunk_text").as("chunk_md5"), $"n_sentences")
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // Feature-hash embedder core (X101): every (doc, bucket) signed
    // count of the hashing-trick embedding replayed exactly — all
    // integer, md5-deterministic.
    "q132_hashed_embedding" -> ((s, d) => {
      import s.implicits._
      graft.llmops.VectorFuncs.hashedBuckets(
          t(s, d, "documents").filter($"doc_id" % 9 === 1), dim = 64)
        .orderBy($"doc_id", $"bucket")
    }),

    // PDF embedded-image extraction (X103): planted lossless DeviceGray
    // XObjects — every pixel closed-form, stats all-integer, truncated
    // assets contribute zero rows (the q117 contract).
    "q133_pdf_images" -> ((s, d) => {
      import s.implicits._
      val assets = t(s, d, "documents")
        .filter($"doc_id" % 8 === 5)
        .select($"doc_id").as[Long]
        .map { id =>
          val w = (8 + id % 5).toInt
          val h = (6 + id % 3).toInt
          val full = graft.llmops.Pdf.PdfCodec.encodePdfWithImage(
            Seq(s"Img doc $id"), w, h,
            (x, y) => ((id * 7 + x * 3 + y * 11) % 251).toInt)
          val content = if (id % 11 == 0) full.take(60) else full
          graft.llmops.Multimodal.Asset(id, "document", content,
            None, None, None, Some("pdf"))
        }
      graft.llmops.Pdf.extractPdfImages(s, assets)
        .toDF()
        .select($"asset_id".as("doc_id"), $"img_idx", $"width",
          $"height", $"n_pixels", $"sum_gray")
        .orderBy($"doc_id")
    }),

    // Set-based multi-query BM25 + RRF fusion (the bulk-evaluation
    // serving shape): THREE queries score in ONE dataflow
    // (Bm25.topKBatch — corpus tokenized once for the union of all
    // query terms, per-query top-k via the bounded-heap aggregate, no
    // rank window, no per-query jobs), twice under different
    // length-normalization (b = 0.75 and b = 0 — two genuinely
    // different rankings), fused by Retrieval.rrfFuse's exact
    // 1/(60+rank) arithmetic. The oracle recomputes every tf/df/idf,
    // both score sets, both rankings, and the fusion relationally.
    "q134_bm25_batch_rrf" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val queries = Seq(
        (0L, "vector window merge"),
        (1L, "stream window"),
        (2L, "vector stream merge window")).toDF("query_id", "text")
      val lex = graft.llmops.Bm25.topKBatch(docs, queries, k = 15)
      val alt = graft.llmops.Bm25.topKBatch(docs, queries, k = 15, b = 0.0)
      graft.llmops.Retrieval.rrfFuse(lex, alt, k = 12)
        .select($"query_id", $"rk", $"doc_id",
          round($"rrf_score", 6).as("rrf_score"))
        .orderBy($"query_id", $"rk")
    }),

    // One-call retrieval served end-to-end from the WRITTEN files
    // (X102's composition under its own oracle): buildIndex chunks +
    // embeds + writes the list-partitioned ANN index; the oracle
    // recomputes the query embeddings from the question TEXTS via the
    // q132 md5 arithmetic (integer bucket counts → exact double norm →
    // REAL cast, bit-identical to the float kernel), then replays
    // candidate generation (materialized probes, the q93 pattern), the
    // codes ⋈ codebooks ADC scoring, the (sim desc, vec_id) ranking,
    // and the chunk-table join — every serving stage from parquet
    // alone.
    "q135_retrieval_serve" -> ((s, d) => {
      import s.implicits._
      val R = graft.llmops.Retrieval
      val base = "/root/repo/spark-warehouse/q135_ret"
      val docs = t(s, d, "documents")
        .filter($"doc_id" % 10 === 2 && $"text".isNotNull)
        .select($"doc_id", $"text")
      R.buildIndex(docs, base, targetChars = 200, dim = 64,
        nlist = 16, m = 8)
      val questions = Seq(
        (0L, "vector window merge"),
        (1L, "stream processing window"),
        (2L, "merge stream vector")).toDF("query_id", "text")
      if (materializing) {
        val (cents, _) = graft.llmops.AnnIndex.loadModels(s, s"$base/index")
        val qv = graft.llmops.VectorFuncs.hashedEmbedding(questions, 64,
          idCol = "query_id", textCol = "text")
        materialize(qv.select($"query_id",
          explode(graft.llmops.Ivf.nearest_centroids($"embedding", cents, 4))
            .as("list_id")), "q135_probes")
      }
      R.search(s, base, questions, k = 5, nprobe = 4)
        .select($"query_id", $"rk", $"doc_id", $"chunk_idx",
          md5($"chunk_text").as("chunk_md5"), $"sim")
        .orderBy($"query_id", $"rk")
    }),

    // Persisted lexical index (X106): tokenize-once/serve-many BM25.
    // Written in TWO batches (write + append) so the additive stats
    // rows are in the oracle-gated path, then served batch queries
    // read only the probed term buckets. The oracle replays every
    // df/idf/score from the WRITTEN postings + stats files alone —
    // the q93/q135 replay-from-files pattern for the lexical side.
    "q136_bm25_index_serve" -> ((s, d) => {
      import s.implicits._
      val B = graft.llmops.Bm25Index
      val base = "/root/repo/spark-warehouse/q136_lex"
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      B.write(docs.filter($"doc_id" % 2 === 0), base, nBuckets = 32)
      B.append(docs.filter($"doc_id" % 2 =!= 0), base)
      val queries = Seq(
        (0L, "vector window merge"),
        (1L, "stream window"),
        (2L, "vector stream")).toDF("query_id", "text")
      B.topK(s, base, queries, k = 12)
        .select($"query_id", $"rk", $"doc_id", $"n_terms_hit", $"score")
        .orderBy($"query_id", $"rk")
    }),

    // Per-host document cap (X107): at most 7 docs per source, chosen
    // by the md5-of-id lottery — the exact survivor set pinned via
    // per-host count and id sum, the whole rule replayed relationally.
    "q137_host_cap" -> ((s, d) => {
      import s.implicits._
      val capped = graft.llmops.Splits.hostCapSample(
        t(s, d, "documents").withColumn("host", $"source"), cap = 7)
      capped.groupBy($"host")
        .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("id_sum"))
        .orderBy($"host")
    }),

    // RM3 pseudo-relevance feedback (X108): base BM25 top-4 per query
    // → relevance model over their terms (per-occurrence 1/dl, 8-dp
    // rounded cut) → top-6 expansion terms mixed with the original
    // query at 0.5 → weighted rescore. EVERY stage — base ranking,
    // feedback stats, term selection, weight mixing, weighted scores —
    // replayed relationally.
    "q138_rm3_expansion" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val queries = Seq(
        (0L, "vector window"),
        (1L, "stream merge")).toDF("query_id", "text")
      graft.llmops.Bm25.rm3TopK(docs, queries, k = 10,
          fbDocs = 4, fbTerms = 6, origWeight = 0.5)
        .select($"query_id", $"rk", $"doc_id", $"n_terms_hit", $"score")
        .orderBy($"query_id", $"rk")
    }),

    // Count-Min point-frequency sketch (X112): the q104/q106
    // estimate-contract pattern — exact token counts replayed
    // relationally, the sketch's never-undercount and bounded-overcount
    // guarantees asserted as booleans the oracle predicts TRUE.
    "q142_count_min" -> ((s, d) => {
      import s.implicits._
      val F = graft.llmops.Freq
      val toks = t(s, d, "documents")
        .select(explode(graft.llmops.TextFuncs.tokens($"text")).as("t"))
        .filter($"t" =!= "")
      val sk = toks.agg(F.cmSketch($"t", depth = 4, width = 1024).as("sk"),
        count(lit(1)).as("n"))
      val probes = Seq("vector", "window", "merge", "stream",
        "zzzznothing").toDF("t")
      val exact = toks.groupBy($"t").agg(count(lit(1)).as("exact"))
      probes.join(exact, Seq("t"), "left")
        .na.fill(0L, Seq("exact"))
        .crossJoin(broadcast(sk))
        .withColumn("est", F.cmEstimate($"sk", $"t", 4, 1024))
        .select($"t", $"exact",
          ($"est" >= $"exact").as("never_under"),
          ($"est" <= $"exact" + lit(8) * $"n" / lit(1024))
            .as("bounded_over"))
        .orderBy($"t")
    }),

    // N-gram novelty scores (X111): the graded decontamination signal
    // — per-doc fraction of distinct 8-grams absent from a reference
    // slice; reference members score 0 novelty on their own grams.
    // Whole rule replayed relationally (the q76 gram machinery + the
    // left-outer fraction).
    "q141_ngram_novelty" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      graft.llmops.Dedup.ngramNoveltyScores(
          docs.filter($"doc_id" % 5 === 2),
          docs.filter($"doc_id" % 10 === 2), n = 8)
        .select($"doc_id", $"n_grams", round($"novelty", 6).as("novelty"))
        .orderBy($"doc_id")
    }),

    // MMR diversification (X110): the greedy trace over a fixed
    // 8-candidate set — relevance and pairwise cosines rounded to 6
    // decimals before the mix so every pick replays exactly; the
    // oracle unrolls all three selections relationally.
    "q140_mmr_rerank" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" < 2)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      val cand = emb.filter($"vec_id".between(10, 17))
        .crossJoin(broadcast(q))
        .withColumn("rel",
          graft.llmops.VectorFuncs.cosine($"embedding", $"query_vec"))
        .select($"query_id", $"vec_id", $"rel", $"embedding")
      graft.llmops.Mmr.rerank(cand, k = 3, lambda = 0.7)
        .orderBy($"query_id", $"rk")
    }),

    // TF-IDF-weighted hashed embedding (X109): every (doc, bucket)
    // value = Σ sign·tf·ln(N/df) replayed exactly to 6 decimals from
    // the same md5 arithmetic + corpus stats — the q132 pattern with
    // the idf weighting in the oracle-gated path.
    "q139_tfidf_embedding" -> ((s, d) => {
      import s.implicits._
      graft.llmops.VectorFuncs.hashedTfidfBuckets(
          t(s, d, "documents").filter($"doc_id" % 9 === 4), dim = 64)
        .select($"doc_id", $"bucket", round($"v", 6).as("v"))
        .orderBy($"doc_id", $"bucket")
    }),

    // Persisted-index deletion (X113): build the lexical index over
    // the full corpus, tombstone every doc_id % 5 == 0 (append-only —
    // no partition moves), then serve. The oracle replays serving from
    // the WRITTEN files alone: postings anti-joined against the
    // tombstone parquet, additive stats minus the doclens∩tombstones
    // aggregate — pinning that deletion-by-data equals a fresh index
    // over the surviving corpus.
    "q143_bm25_index_delete" -> ((s, d) => {
      import s.implicits._
      val B = graft.llmops.Bm25Index
      val base = "/root/repo/spark-warehouse/q143_lex"
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      B.write(docs, base, nBuckets = 32)
      B.delete(docs.filter($"doc_id" % 5 === 0).select($"doc_id"), base)
      val queries = Seq(
        (0L, "vector window merge"),
        (1L, "stream window"),
        (2L, "vector stream")).toDF("query_id", "text")
      B.topK(s, base, queries, k = 12)
        .select($"query_id", $"rk", $"doc_id", $"n_terms_hit", $"score")
        .orderBy($"query_id", $"rk")
    }),

    // Sharded training export (X114): one epoch written to disk, the
    // first three shards' fragment rows read BACK from the written
    // files and replayed entirely relationally — md5 shuffle key,
    // 16-bit-prefix shard assignment, the per-shard (key, id) order,
    // the exclusive token cumsum, and the exact sequence tiling.
    "q144_train_export" -> ((s, d) => {
      import s.implicits._
      val base = "/root/repo/spark-warehouse/q144_shards"
      graft.llmops.TrainExport.writeShards(
        t(s, d, "documents").select($"doc_id", $"text"), base,
        seqLen = 64, nShards = 32, seed = "ep0")
      s.read.parquet(s"$base/fragments")
        .filter($"shard" < 3)
        .select($"shard".cast("long").as("shard"), $"seq_id", $"doc_id",
          $"doc_offset", $"seq_offset", $"n_toks")
        .orderBy($"shard", $"seq_id", $"doc_id")
    }),

    // Quality-aware cluster representatives (X115): near-dup clusters
    // keep their BEST member (argmax quality, min-id tiebreak) instead
    // of the arbitrary min id. The oracle recomputes components with a
    // recursive CTE over the materialized edges, scores every doc with
    // the q21 quality arithmetic, and replays the argmax; the per-
    // source id sum pins the exact survivor set.
    "q145_best_rep_dedup" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val edges = graft.llmops.Dedup.minhashPairs(docs, threshold = 0.7)
        .select($"id_a", $"id_b")
      materialize(edges, "q145_edges")
      graft.ops.ConnectedComponents.dedupByComponentBest(docs, edges,
          graft.llmops.TextFuncs.qualityScore($"text"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"doc_id").cast("long").as("id_sum"))
        .orderBy($"source")
    }),

    // Line-level language segmentation (X116): planted code-mixed docs
    // (the doc's text, two Spanish stopword lines, one German, the
    // text again) split into ordered monolingual runs — per-line
    // langId, the gaps-and-islands grouping, and segment reassembly
    // all replayed relationally; md5 pins every reassembled segment.
    "q146_line_lang_segments" -> ((s, d) => {
      import s.implicits._
      val mixed = t(s, d, "documents").filter($"doc_id" % 7 === 3)
        .select($"doc_id", concat(
          $"text", lit("\nel que la de y los en un" +
            "\nla de el que y un en los" +
            "\nder und die das von ist mit den\n"),
          $"text").as("mtext"))
      graft.llmops.TextFuncs.lineLangSegments(mixed, textCol = "mtext")
        .select($"doc_id", $"seg_idx", $"lang", $"n_lines",
          md5($"seg_text").as("seg_md5"),
          length($"seg_text").as("n_chars"))
        .orderBy($"doc_id", $"seg_idx")
    }),

    // Contrastive hard-negative mining (X117): queries = every 50th
    // embedding inside the "annotated" prefix (vec_id < 2500 — BOTH
    // sides stay bounded at every scale factor, honoring Mining's
    // bounded-broadcast contract: a real training set has a fixed
    // annotation budget, not one that grows with the corpus),
    // positives = the query's annotated label-mates (incl. itself),
    // hard negatives = top-5 highest-cosine non-positives (other
    // labels AND unannotated label-mates — the sparse-annotation
    // reality), triplets = negatives round-robin over the positives.
    // The whole dataflow replays relationally.
    "q147_hard_negatives" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" % 50 === 0 && $"vec_id" < 2500)
        .select($"vec_id".as("query_id"), $"embedding", $"label")
      val positives = q.select($"query_id", $"label".as("__ql"))
        .join(emb.select($"vec_id", $"label").filter($"vec_id" < 2500),
          $"label" === $"__ql")
        .select($"query_id", $"vec_id")
      val negs = graft.llmops.Mining.hardNegatives(
        emb, q.select($"query_id", $"embedding"), positives, k = 5)
      graft.llmops.Mining.contrastiveTriplets(positives, negs)
        .orderBy($"query_id", $"neg_rk")
    }),

    // Batch sessionization (X118): gaps-and-islands session windows
    // over the events table — a 12 h inactivity gap closes a session.
    // The boundary flag, the running session counter, and the roll-up
    // all replay relationally.
    "q148_sessionize" -> ((s, d) => {
      import s.implicits._
      graft.ops.Sessionize.sessions(t(s, d, "events"),
          gapMillis = 43200000L)
        .orderBy($"user_id", $"session_idx")
    }),

    // Vocabulary coverage / OOV report (X119): vocab = the corpus's
    // top-200 words (count desc, word asc — a deterministic total
    // order), coverage measured per source. The vocab build, the
    // per-(source, word) pre-aggregation, and the OOV roll-up all
    // replay relationally.
    "q149_vocab_coverage" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val words = docs.select(
          explode(graft.llmops.TextFuncs.tokens($"text")).as("token"))
        .filter($"token" =!= "")
      val vocab = words.groupBy($"token").agg(count(lit(1)).as("c"))
        .orderBy($"c".desc, $"token").limit(200).select($"token")
      graft.llmops.Vocab.coverageStats(docs, vocab, $"text", "source")
        .orderBy($"source")
    }),

    // Training-shard takedown blast radius (X120): every training
    // sequence of a written export that contains a doomed doc, with
    // exact doomed/total token masses. The export layout AND the
    // lineage aggregation replay relationally from the documents table
    // alone (the q144 arithmetic extended with the doomed roll-up).
    "q150_takedown_blast_radius" -> ((s, d) => {
      import s.implicits._
      val base = "/root/repo/spark-warehouse/q150_export"
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      graft.llmops.TrainExport.writeShards(docs, base,
        seqLen = 64, nShards = 32, seed = "ep0")
      graft.llmops.TrainExport.affectedSequences(s, base,
          docs.select($"doc_id").filter($"doc_id" % 13 === 5))
        .orderBy($"shard", $"seq_id")
    }),

    // Edit-distance near-dup verify (X121): LSH-proposed candidates
    // confirmed by normalized Levenshtein similarity. Verify dumps
    // the candidate set (the sketch stage has no SQL analog — q60
    // precedent); DuckDB replays the banded edit verify over the
    // documents table with its own levenshtein.
    "q151_edit_similarity" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val D = graft.llmops.Dedup
      // ONE LSH round, pinned: the dumped candidate set and the set
      // the verify runs over are the same frame by construction
      val cands = D.minhashPairs(docs, threshold = 0.375)
        .select($"id_a", $"id_b").localCheckpoint(false)
      if (materializing) materialize(cands, "q151_cands")
      D.editSimilarityPairs(docs, threshold = 0.5, candidates = cands)
        .orderBy($"id_a", $"id_b")
    }),

    // Retention cohorts (X122): users cohorted by first-activity week,
    // the full retention triangle with distinct-user counts and rates.
    "q152_retention_cohorts" -> ((s, d) => {
      import s.implicits._
      graft.ops.Cohorts.retention(t(s, d, "events"),
          periodMillis = 604800000L)
        .orderBy($"cohort_period", $"period_offset")
    }),

    // Funnel conversion (X123): per-user view → click → purchase
    // funnel — each step the earliest event strictly after the prior
    // step. The chain of conditional min-aggregations replays
    // relationally.
    "q153_funnel" -> ((s, d) => {
      import s.implicits._
      graft.ops.Funnels.conversions(t(s, d, "events"),
          Seq("view", "click", "purchase"))
        .orderBy($"user_id")
    }),

    // SCD-2 interval compaction (X124): each user's event_type change
    // log collapsed into maximal-run validity intervals. The change
    // flag, run counter, roll-up, and lead-based valid_to all replay
    // relationally.
    "q154_scd2_intervals" -> ((s, d) => {
      import s.implicits._
      graft.ops.Scd.intervals(t(s, d, "events"), "user_id", "ts",
          Seq("event_type"))
        .orderBy($"user_id", $"valid_from")
    }),

    // Weighted sampling without replacement (X125): the Efraimidis-
    // Spirakis exponential race, weights = n_chars, k = 100. The
    // md5-derived uniforms, race keys, and the winning set all replay
    // relationally (the checker's 4-dp float canon absorbs the
    // engines' last-ulp ln() differences; the selected set is pinned
    // exactly by doc_id).
    "q155_weighted_sample" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Splits.weightedSample(
          t(s, d, "documents").select($"doc_id", $"source", $"n_chars"),
          $"n_chars", k = 100, seed = "ws0")
        .orderBy($"race_key", $"doc_id")
    }),

    // Order-free content digest (X126): per-bucket (count, xor48,
    // sum32) fingerprints of the documents table — the corpus-version
    // equality check. Every slice of the arithmetic replays
    // relationally.
    "q156_content_digest" -> ((s, d) => {
      import s.implicits._
      graft.ops.Profiling.contentDigest(t(s, d, "documents"),
          Seq("doc_id", "text", "source"))
        .orderBy($"bucket")
    }),

    // Document-level retrieval roll-up (X127): brute-force chunk hits
    // (the q23 shape, vectors grouped ten-to-a-doc) rolled up to
    // max-sim documents with chunk-evidence counts. Scoring, the
    // chunk top-20, the per-doc max, and the doc rank all replay
    // relationally.
    "q157_doc_rollup" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      val scored = emb.join(broadcast(q))
        .withColumn("sim",
          graft.llmops.VectorFuncs.cosine($"embedding", $"query_vec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"sim".desc, $"vec_id")
      val hits = scored.withColumn("crk", row_number().over(w))
        .filter($"crk" <= 20)
        .select($"query_id", expr("vec_id div 10").as("doc_id"), $"sim")
      graft.llmops.Retrieval.rollupDocs(hits, k = 3)
        .orderBy($"query_id", $"rk")
    }),

    // Retrieval eval metrics (X128): recall@10 / MRR@10 / nDCG@10 of
    // the brute-force ranking against label-match relevance judgments.
    // Ranking, judgments, and all three metrics replay relationally.
    "q158_retrieval_eval" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"),
          $"label".as("__ql"))
      val scored = emb.join(broadcast(q))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("sim",
          graft.llmops.VectorFuncs.cosine($"embedding", $"query_vec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"sim".desc, $"vec_id")
      val hits = scored.withColumn("rk", row_number().over(w))
        .filter($"rk" <= 20)
        .select($"query_id", $"rk", $"vec_id".as("doc_id"))
      val qrels = q.select($"query_id", $"__ql")
        .join(emb.select($"vec_id".as("doc_id"), $"label"),
          $"label" === $"__ql")
        .filter($"doc_id" =!= $"query_id")
        .select($"query_id", $"doc_id")
      graft.llmops.Retrieval.evalMetrics(hits, qrels, k = 10)
        .orderBy($"query_id")
    }),

    // Precision-recall threshold sweep (X129): planted labels
    // (doc_id % 3) under an md5-noised score — binning, the
    // cumulative-from-top sweep, and precision/recall/F1 all replay
    // relationally.
    "q159_pr_curve" -> ((s, d) => {
      import s.implicits._
      val u = (conv(substring(md5(concat($"doc_id".cast("string"),
          lit("pr"))), 1, 12), 16, 10).cast("long").cast("double") +
          0.5) / 281474976710656.0
      val scored = t(s, d, "documents")
        .select($"doc_id",
          when($"doc_id" % 3 === 0, 1).otherwise(0).as("label"))
        .withColumn("prob", lit(0.35) * $"label" + lit(0.65) * u)
      graft.llmops.QualityModel.prCurve(scored, nBins = 20)
        .orderBy($"threshold".desc)
    }),

    // c-TF-IDF cluster labeling (X130): each source labeled by its 5
    // most distinguishing terms — tf weighted by ln(nClusters / the
    // term's cluster-df). Tokenize, both aggregates, the weighting,
    // and the per-cluster rank all replay relationally.
    "q160_cluster_terms" -> ((s, d) => {
      import s.implicits._
      graft.llmops.TextFuncs.clusterTerms(t(s, d, "documents"),
          "source", k = 5)
        .orderBy($"cluster", $"rk")
    }),

    // Incremental digest merge (X131): Spark digests the even/odd
    // halves SEPARATELY and merges; the oracle digests the whole
    // table directly — equality IS the incremental-append contract,
    // verified cross-engine.
    "q161_digest_merge" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val P = graft.ops.Profiling
      val cols = Seq("doc_id", "text", "source")
      P.mergeDigests(
          P.contentDigest(docs.filter($"doc_id" % 2 === 0), cols),
          P.contentDigest(docs.filter($"doc_id" % 2 =!= 0), cols))
        .orderBy($"bucket")
    }),

    // SCD-2 point-in-time lookup (X133): each event, shifted one hour
    // forward, looks up the user's state interval covering that
    // instant — the interval build AND the covering-interval join
    // both replay relationally (the oracle joins on BETWEEN, the
    // engine rides the one-shuffle as-of composition; equality of the
    // two IS the tiling argument).
    "q162_scd2_lookup" -> ((s, d) => {
      import s.implicits._
      val events = t(s, d, "events")
      val iv = graft.ops.Scd.intervals(events, "user_id", "ts",
          Seq("event_type"))
        .withColumnRenamed("event_type", "state")
      val facts = events.select($"user_id", $"event_id",
        ($"ts" + expr("INTERVAL 1 HOUR")).as("ts_shift"))
      graft.ops.Scd.lookupJoin(facts, iv, "user_id", "ts_shift",
          Seq("state"))
        .select($"user_id", $"event_id", $"state")
        .orderBy($"event_id")
    }),

    // Per-group weighted sampling (X134): exact 10 docs per source by
    // the n_chars-weighted race. Uniforms, race keys, and the
    // per-group rank replay relationally.
    "q163_weighted_sample_grouped" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Splits.weightedSamplePerGroup(
          t(s, d, "documents").select($"doc_id", $"source", $"n_chars"),
          $"n_chars", k = 10, seed = "wg0", groupCol = "source")
        .select($"doc_id", $"source", $"n_chars", $"race_key")
        .orderBy($"source", $"race_key", $"doc_id")
    }),

    // Snippet extraction (X135): queries = the first 5 tokens of three
    // anchor docs, hits planted by doc_id % 50 — the densest-window
    // search, tie rule, and token-slice reassembly all replay
    // relationally.
    "q164_snippets" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val T = graft.llmops.TextFuncs
      val queries = docs.filter($"doc_id".isin(1L, 38L, 75L))
        .select((($"doc_id" - 1) / lit(37)).cast("long").as("query_id"),
          array_join(slice(T.tokens($"text"), 1, 5), " ").as("text"))
      val hits = docs.select(($"doc_id" % 50).as("query_id"), $"doc_id")
        .filter($"query_id" < 3)
      graft.llmops.Retrieval.snippets(docs, hits, queries, window = 12)
        .withColumn("snip_md5", md5($"snippet")).drop("snippet")
        .orderBy($"query_id", $"doc_id")
    }),

    // Event-rate anomaly detection (X136): daily per-type counts
    // z-scored against a strictly-trailing 7-bucket window. Bucketing,
    // the trailing stats, the z guards, and the flag all replay
    // relationally.
    "q165_rate_anomalies" -> ((s, d) => {
      import s.implicits._
      graft.ops.Anomaly.rateAnomalies(t(s, d, "events"),
          bucketMillis = 86400000L, lookback = 7, threshold = 2.0)
        .withColumn("is_anomaly", $"is_anomaly".cast("int"))
        .orderBy($"event_type", $"bucket")
    }),

    // PMI collocations (X137): top-100 vocabulary, ±2-token window,
    // 20-occurrence floor. Vocabulary pruning, the banded co-occurrence
    // self-join, unordered pair keying, and the PMI arithmetic all
    // replay relationally.
    "q166_pmi_pairs" -> ((s, d) => {
      import s.implicits._
      graft.llmops.TextFuncs.pmiPairs(t(s, d, "documents"),
          topV = 100, window = 2, minCount = 20)
        .orderBy($"term_a", $"term_b")
    }),

    // Aho-Corasick blocklist matching (X138): one-pass multi-pattern
    // scan vs the oracle's per-pattern contains() decomposition —
    // hit flag, distinct-match count, and the matched list (in
    // pattern order) must all agree on every document.
    "q167_blocklist" -> ((s, d) => {
      import s.implicits._
      val pats = Seq("data", "err", "qua", "zz", "the")
      val M = graft.expr.MultiMatch
      t(s, d, "documents").select($"doc_id",
          M.contains_any($"text", pats).cast("int").as("hit"),
          size(M.matched_terms($"text", pats)).as("n_terms"),
          array_join(M.matched_terms($"text", pats), ",").as("terms"))
        .orderBy($"doc_id")
    }),

    // Zipf rank-frequency fit (X139): the vocabulary head's OLS fit
    // of ln(freq) on ln(rank) — counts, ranking, and the closed-form
    // regression all replay relationally.
    "q168_zipf_fit" -> ((s, d) => {
      import s.implicits._
      graft.llmops.TextFuncs.zipfFit(t(s, d, "documents"), topN = 200)
    }),

    // BM25 over a MIXED-SCRIPT corpus: base English docs ∪ 30 planted
    // UNSPACED-zh docs (closed-form from doc_id — no whitespace in
    // them). Query 0 is ASCII, query 1 is itself unspaced zh; both go
    // through the script-aware tokenizer seam (TextFuncs.tokens), so
    // the zh docs are retrievable at all — with a whitespace-only
    // tokenizer query 1 would be one giant token and match nothing.
    // The oracle replays tf/df/idf/dl/score/rank with the same
    // ideograph-isolating tokenize.
    "q169_bm25_cjk" -> ((s, d) => {
      import s.implicits._
      val base = t(s, d, "documents").select($"doc_id", $"text")
      val zh = base.filter($"doc_id" < 30).select(
        ($"doc_id" + 950000).as("doc_id"),
        concat(lit("质量"),
          repeat(lit("数据"), ($"doc_id" % 4 + 1).cast("int")),
          lit("测试好")).as("text"))
      val docs = base.unionByName(zh)
      val queries = Seq(
        (0L, "vector stream"),
        (1L, "数据测试")).toDF("query_id", "text")
      graft.llmops.Bm25.topKBatch(docs, queries, k = 10)
        .select($"query_id", $"rk", $"doc_id", $"n_terms_hit", $"score")
        .orderBy($"query_id", $"rk")
    }),

    // Hybrid-retrieval tuning grid (X141): ONE report over every
    // (fetchK, nprobe, rrfK) cell — candidate rankings serve once per
    // (fetchK, nprobe), every rrfK re-fuses them without touching the
    // index. The serve tiers are pinned by q135/q136; the oracle here
    // replays the grid's whole downstream — RRF fusion, document
    // roll-up, recall/MRR/nDCG, per-cell means — from the dumped
    // candidate rankings (the q24 dump-and-replay pattern), with the
    // qrels re-derived closed-form from the documents base table.
    "q170_hybrid_tuning" -> ((s, d) => {
      import s.implicits._
      val R = graft.llmops.Retrieval
      val base = "/root/repo/spark-warehouse/q170_ret"
      val docs = t(s, d, "documents")
        .filter($"doc_id" % 10 === 5 && $"text".isNotNull)
        .select($"doc_id", $"text")
      R.buildIndex(docs, base, targetChars = 200, dim = 64,
        nlist = 16, m = 8)
      val queries = Seq(
        (0L, "vector window merge"),
        (1L, "stream processing window")).toDF("query_id", "text")
      // document judgments, closed-form from the base table: a doc is
      // relevant iff its text contains both of the query's anchor terms
      val qrels = docs
        .filter($"text".contains("vector") && $"text".contains("merge"))
        .select(lit(0L).as("query_id"), $"doc_id")
        .unionByName(docs
          .filter($"text".contains("stream") && $"text".contains("window"))
          .select(lit(1L).as("query_id"), $"doc_id"))
      if (materializing) {
        val chunks = s.read.parquet(s"$base/chunks")
        materialize(chunks.select($"vec_id", $"doc_id"), "q170_chunkmap")
        for (fk <- Seq(4, 8)) {
          materialize(graft.llmops.Bm25Index.topK(s, s"$base/lexical",
              queries, fk, idCol = "vec_id")
            .select($"query_id", $"vec_id", $"rk"), s"q170_lex_$fk")
          for (np <- Seq(2, 4))
            materialize(R.search(s, base, queries, fk, np)
              .join(chunks.select($"vec_id", $"doc_id", $"chunk_idx"),
                Seq("doc_id", "chunk_idx"))
              .select($"query_id", $"vec_id", $"rk"),
              s"q170_vec_${fk}_$np")
        }
      }
      R.tuneHybrid(s, base, queries, qrels, evalK = 4,
          fetchKs = Seq(4, 8), nprobes = Seq(2, 4), rrfKs = Seq(20, 60))
        .select($"fetch_k", $"nprobe", $"rrf_k", $"n_queries",
          round($"mean_recall", 4).as("mean_recall"),
          round($"mean_mrr", 4).as("mean_mrr"),
          round($"mean_ndcg", 4).as("mean_ndcg"))
        .orderBy($"fetch_k", $"nprobe", $"rrf_k")
    }),

    // EXACT prefix-filtered n-gram Jaccard join (X143):
    // recall-guaranteed similarity pairs in X5's shingle space — no
    // LSH banding probability, no bucket-cap cliff. Fully relational
    // (shingle sets, rarest-first per-doc prefix ranks, the
    // prefix-co-occurrence self-join, the length filter, the exact
    // set-overlap verify), so the oracle replays EVERY stage.
    "q171_jaccard_join" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Dedup.jaccardJoinExact(t(s, d, "documents"),
          threshold = 0.5, n = 3)
        .select($"id_a", $"id_b", round($"jaccard", 4).as("jaccard"))
        .orderBy($"id_a", $"id_b")
    }),

    // char-distribution entropy (X144): the two-sided quality signal —
    // repetitive text scores LOW, binary/base64 spill scores HIGH,
    // prose sits ~4-4.5 bits. Pure relational (slim (id, char, count)
    // rows, two map-side sums), replayed per document.
    "q172_char_entropy" -> ((s, d) => {
      import s.implicits._
      graft.llmops.TextFuncs.charEntropy(t(s, d, "documents"))
        .select($"doc_id", $"n_chars",
          round($"char_entropy", 4).as("char_entropy"))
        .orderBy($"doc_id")
    }),

    // one-call corpus data card (X145): volume, dup rate, quality,
    // entropy, language histogram, Zipf fit — every number an
    // already-verified kernel, composed; the oracle replays all of
    // them into the same tall (metric, value) table.
    "q173_corpus_report" -> ((s, d) => {
      import s.implicits._
      graft.ops.Profiling.corpusReport(t(s, d, "documents"))
        .select($"metric", round($"value", 4).as("value"))
        .orderBy($"metric")
    }),

    // leakage-safe cluster split (X146): the split key is the
    // connected-component label of the near-dup graph, not the text
    // hash, so no near-dup pair straddles train/test by construction.
    // Same q69 dump-and-replay contract: edges dumped, the oracle
    // re-derives components (recursive CTE) and the md5 threshold on
    // the same seed:component key — every per-doc assignment replayed.
    "q174_cluster_split" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val edges = graft.llmops.Dedup.minhashPairs(docs, threshold = 0.7)
        .select($"id_a", $"id_b")
      materialize(edges, "q174_edges")
      graft.llmops.Splits.splitByCluster(docs, edges)
        .select($"doc_id", $"component", $"split")
        .orderBy($"doc_id")
    }),

    // mergeable t-digest quantiles (X147): the rank tier of the sketch
    // family — per-group digests of O(δ) centroids instead of a global
    // sort. Same contract shape as q104's GK pin: exact quantiles
    // replayed by the oracle; the sketch estimate pinned by its
    // realized-rank error (the order-independent guarantee a mergeable
    // quantile summary actually makes).
    "q175_tdigest_quantile" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val dig = docs.groupBy($"source")
        .agg(
          percentile($"n_chars", lit(0.5)).as("p50_exact"),
          percentile($"n_chars", lit(0.9)).as("p90_exact"),
          graft.llmops.Quantiles.tdigestAgg($"n_chars", 100).as("dg"))
        .select($"source", $"p50_exact", $"p90_exact",
          graft.llmops.Quantiles.tdigestQuantile($"dg", 0.5).as("p50t"),
          graft.llmops.Quantiles.tdigestQuantile($"dg", 0.9).as("p90t"))
      docs.join(broadcast(dig), Seq("source"))
        .groupBy($"source", $"p50_exact", $"p90_exact", $"p50t", $"p90t")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(when($"n_chars" <= $"p50t", 1.0).otherwise(0.0)).as("r50"),
          sum(when($"n_chars" <= $"p90t", 1.0).otherwise(0.0)).as("r90"))
        .select($"source",
          round($"p50_exact", 4).as("p50_exact"),
          round($"p90_exact", 4).as("p90_exact"),
          (abs($"r50" / $"n" - 0.5) <= lit(0.05) + lit(1.0) / $"n")
            .as("p50_ok"),
          (abs($"r90" / $"n" - 0.9) <= lit(0.05) + lit(1.0) / $"n")
            .as("p90_ok"))
        .orderBy($"source")
    }),

    // interval-overlap join (X148): the two-sided counterpart of q41's
    // as-of and q46's proximity joins — half-open [start, end)
    // intervals, bucketed to an equi-join with canonical-bucket dedup
    // (no distinct). The oracle runs the plain inequality theta-join;
    // this plan runs the bucketed equi-join — same rows proves the
    // rewrite. Intervals: each event lasts `value` minutes.
    "q176_interval_overlap" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      // round, don't truncate: value*6e7 is integral only in decimal —
      // the double product sits 1ulp under (truncation loses 1 µs vs
      // the oracle's rounding CAST)
      def iv(typ: String) = ev.filter($"event_type" === typ)
        .select($"user_id", $"event_id", $"ts".as("s_ts"),
          timestamp_micros(graft.expr.TimeFuncs.tsMicros($"ts") +
            round($"value" * 60000000L).cast("long")).as("e_ts"))
      graft.ops.RangeJoin.intervalOverlapPairs(
          iv("click"), iv("error"), Seq("user_id"), "event_id",
          "s_ts", "e_ts", bucketMicros = 3600000000L)
        .orderBy($"user_id", $"id_a", $"id_b")
    }),

    // budget-constrained quality-greedy mixture (X149): fill a hard
    // token budget best-source-first under a per-source share cap —
    // the greedy collapses to one cumulative-sum window over the
    // |sources|-row aggregate (all integer arithmetic), so the oracle
    // replays every allocation exactly, quality heuristic included.
    "q177_budget_mixture" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Mixture.budgetAllocate(t(s, d, "documents"),
          tokenBudget = 20000L, maxShare = 0.2)
        .orderBy($"source")
    }),

    // 2-D Morton key (X150): the arithmetic behind the Z-order layout
    // (Output.zorderLayout) — five shift-mask spread rounds per
    // dimension, interleaved; the oracle replays every round in SQL
    // bit ops. The layout's pruning payoff is measured in OutputSpec
    // (files whose min/max stats intersect a probe, z-order vs
    // single-column sort).
    "q178_zorder_key" -> ((s, d) => {
      import s.implicits._
      t(s, d, "part")
        .select($"p_partkey",
          graft.ops.Output.zorderValue(
            $"p_size", pmod($"p_partkey", lit(256)), 16).as("zval"))
        .orderBy($"p_partkey")
    }),

    // robust rate anomalies (X151): trailing MEDIAN/MAD instead of
    // q165's mean/stddev — a burst inside the lookback can't inflate
    // the scale estimate and mask the next one. Lower-median keeps
    // the trailing stats integer-exact; the whole scorer (array
    // sort/index HOFs included) replays relationally.
    "q179_robust_anomalies" -> ((s, d) => {
      import s.implicits._
      graft.ops.Anomaly.robustRateAnomalies(t(s, d, "events"),
          bucketMillis = 86400000L, lookback = 7, threshold = 2.5)
        .withColumn("is_anomaly", $"is_anomaly".cast("int"))
        .orderBy($"event_type", $"bucket")
    }),

    // HITS hubs/authorities (X152): the second centrality axis next to
    // q80's PageRank, 2 mutual-reinforcement rounds, max-normalized
    // (order-independent, hence replayable). Same synthetic graph as
    // q80; the oracle unrolls both rounds.
    "q180_hits" -> ((s, d) => {
      import s.implicits._
      val edges = t(s, d, "documents")
        .select($"doc_id".as("src"),
          explode(array((0 until 3).map(k =>
            pmod($"doc_id" * 7919 + lit(k), lit(500))): _*)).as("dst"))
      graft.ops.Hits.hubsAuthorities(edges, iterations = 2)
        .filter($"node" < 40)
        .select($"node", round($"hub", 4).as("hub"),
          round($"authority", 4).as("authority"))
        .orderBy($"node")
    }),

    // content-defined chunking (X153): the boundary RULE (a Gear
    // rolling hash) is not SQL-expressible, so the q89/q104-style
    // contract applies — the chunk table is dumped and BOTH engines
    // verify the same relational invariants against it: exact byte
    // coverage, contiguity, and the min/max bounds per document. The
    // CDC-defining properties (shift resistance, edit locality) are
    // pinned in CdcSpec.
    "q181_cdc_chunks" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val chunks = graft.llmops.Cdc.cdcChunks(docs)
        .select($"doc_id", $"chunk_idx",
          $"start".as("c_start"), $"len".as("c_len"))
      materialize(chunks, "q181_chunks")
      val wc = Window.partitionBy($"doc_id")
      val wo = Window.partitionBy($"doc_id").orderBy($"chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
      chunks
        .withColumn("__n", count(lit(1)).over(wc))
        .withColumn("__bef", coalesce(sum($"c_len").over(wo), lit(0L)))
        .groupBy($"doc_id")
        .agg(max($"__n").as("n_chunks"),
          sum($"c_len").as("sum_len"),
          max(abs($"c_start" - $"__bef")).as("__drift"),
          max($"c_len").as("max_len"),
          min(when($"chunk_idx" < $"__n" - 1, $"c_len")).as("__minnf"))
        .join(docs, Seq("doc_id"))
        .select($"doc_id", $"n_chunks",
          ($"sum_len" === octet_length($"text")).cast("int").as("cover_ok"),
          ($"__drift" === 0).cast("int").as("contiguous_ok"),
          ($"max_len" <= 256).cast("int").as("max_ok"),
          coalesce($"__minnf" >= 16, lit(true)).cast("int").as("min_ok"))
        .orderBy($"doc_id")
    }),

    // triangle counting (X154): degree-ordered orientation — every
    // undirected edge points from the smaller (degree, id) endpoint to
    // the larger, so wedge fan-out is bounded by O(sqrt(m)) out-degree
    // and each triangle closes in exactly ONE orientation (no
    // distinct, no /3). The oracle replays the orientation, the wedge
    // join, and the closure with row-value comparisons.
    "q182_triangles" -> ((s, d) => {
      import s.implicits._
      val edges = t(s, d, "documents").filter($"doc_id" < 2000)
        .select($"doc_id".as("src"),
          explode(array(
            pmod($"doc_id" + 1, lit(500)),
            pmod($"doc_id" + 2, lit(500)),
            pmod($"doc_id" * 7919 + 5, lit(500)))).as("dst"))
      graft.ops.Triangles.triangleCounts(edges)
        .withColumn("coefficient", round($"coefficient", 4))
        .orderBy($"node")
    }),

    // event transition matrix (X155): first-order Markov counts and
    // probabilities from per-user ordered streams, (ts, event_id)
    // tiebreak, gap-cut pairs dropped. One lead window per user over
    // slim rows; the normalization window runs over the ≤|types|²
    // matrix. The oracle replays the window, the cut, and the
    // normalization.
    "q183_transitions" -> ((s, d) => {
      import s.implicits._
      graft.ops.Paths.transitionMatrix(t(s, d, "events"),
          maxGapMillis = 86400000L)
        .withColumn("p", round($"p", 4))
        .orderBy($"prev_type", $"next_type")
    }),

    // rendezvous sharding (X156): argmax over shards of
    // md5(key:shard:seed) — fleet growth 8→9 moves only the docs the
    // NEW shard wins (every off-diagonal row with shard8 ≠ shard9 has
    // shard9 = 8, visible in the matrix below; pmod would scatter
    // them). Scalar projection, no shuffle; the oracle replays the
    // argmax per key for both fleet sizes.
    "q184_rendezvous" -> ((s, d) => {
      import s.implicits._
      val key = $"doc_id".cast("string")
      t(s, d, "documents").select(
          graft.llmops.Splits.rendezvousShard(key, 8, "s")
            .cast("long").as("shard8"),
          graft.llmops.Splits.rendezvousShard(key, 9, "s")
            .cast("long").as("shard9"))
        .groupBy($"shard8", $"shard9").agg(count(lit(1)).as("n_docs"))
        .orderBy($"shard8", $"shard9")
    }),

    // encoding-damage signals (X157): replacement chars, C0/C1
    // controls, canonical UTF-8-as-cp1252 mojibake digraphs, and the
    // per-char damage ratio. The synthetic corpus is clean, so damage
    // is PLANTED closed-form from doc_id arithmetic (the q22 zh
    // pattern) — the oracle plants the identical bytes via chr() and
    // replays every count with the same RE2 classes.
    "q185_encoding_damage" -> ((s, d) => {
      import s.implicits._
      val tf = graft.llmops.TextFuncs
      val planted = t(s, d, "documents").select($"doc_id",
        when(pmod($"doc_id", lit(7)) === 0,
          concat($"text", lit(" Ã©Ã¤ â€œq �")))
        .when(pmod($"doc_id", lit(11)) === 0,
          concat($"text", lit(" Â x")))
        .otherwise($"text").as("text"))
      planted.select($"doc_id",
          tf.replacementCharCount($"text").cast("long").as("n_repl"),
          tf.controlCharCount($"text").cast("long").as("n_ctrl"),
          tf.mojibakeCount($"text").cast("long").as("n_moji"),
          round(tf.encodingDamageRatio($"text"), 6).as("damage"))
        .orderBy($"doc_id")
    }),

    // per-source unigram KL divergence (X158): which ingest source
    // drifted from the corpus mix — add-one smoothing over the top-V
    // vocabulary makes every cell finite and the whole statistic
    // integer-counts + one ln, replayed exactly by the oracle
    // (including the ZERO cells, which carry the drift evidence).
    "q186_source_divergence" -> ((s, d) => {
      import s.implicits._
      graft.llmops.TextFuncs.sourceDivergence(
          t(s, d, "documents"), topV = 100)
        .withColumn("kl", round($"kl", 6))
        .orderBy($"source")
    }),

    // exact containment join (X159): ordered pairs where a's shingle
    // set is ≥ t inside b's — the quote/wrapper detector Jaccard is
    // blind to (a 10-word quote in a 200-word page has Jaccard ~0.04
    // but containment 1.0). One-sided prefix filter against FULL
    // postings; the oracle replays prefix, candidates, and the i/na
    // verify stage for stage.
    "q187_containment_join" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Dedup.containmentJoinExact(t(s, d, "documents"),
          threshold = 0.6, n = 3)
        .select($"id_a", $"id_b",
          round($"containment", 4).as("containment"))
        .orderBy($"id_a", $"id_b")
    }),

    // funnel time-to-convert (X160): per adjacent step pair, the lag
    // distribution over converting users — count, mean, min/max, and
    // EXACT interpolated p50/p90 (the reporting tier; the t-digest
    // tier answers the same at sketch cost). Inherits q153's
    // conversion chain; the oracle replays chain, lags, and both
    // interpolated percentiles (quantile_cont ≡ Spark percentile).
    "q188_funnel_lags" -> ((s, d) => {
      import s.implicits._
      graft.ops.Funnels.conversionLags(t(s, d, "events"),
          Seq("view", "click", "purchase"))
        .withColumn("mean_ms", round($"mean_ms", 4))
        .withColumn("p50_ms", round($"p50_ms", 4))
        .withColumn("p90_ms", round($"p90_ms", 4))
        .orderBy($"step")
    }),

    // RAKE keywords (X161): per-doc keyphrases from stopword/punct
    // phrase segmentation, scored by the POOLED Σdeg/Σfreq ratio —
    // one integer division, so the rank order is bit-identical in
    // both engines (canonical RAKE's per-word quotient sum is
    // ULP-order-dependent). Oracle replays segmentation, stats,
    // pooling, and the rank window.
    "q189_rake_keywords" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Keywords.rakeKeywords(t(s, d, "documents"), k = 3)
        .select($"doc_id", $"rank".cast("long").as("rank"), $"phrase",
          $"n_words", round($"score", 4).as("score"))
        .orderBy($"doc_id", $"rank", $"phrase")
    }),

    // k-core peel (X162): the peel is iterative (not SQL-expressible
    // without recursion), so the q181 contract applies — the peel
    // table is dumped and BOTH engines verify the three invariants
    // that provably pin it: (1) a node removed in round r had < k
    // surviving neighbors then (⇒ no core node is ever removed),
    // (2) it had ≥ k one round earlier (⇒ rounds are forced), and
    // (3) kept nodes keep ≥ k kept neighbors (⇒ kept ⊆ k-core; with
    // (1), kept = k-core exactly).
    "q190_kcore" -> ((s, d) => {
      import s.implicits._
      val k = 4
      val edges = t(s, d, "documents").filter($"doc_id" < 2000)
        .select($"doc_id".as("src"),
          explode(array(
            pmod($"doc_id" + 1, lit(500)),
            pmod($"doc_id" + 2, lit(500)),
            pmod($"doc_id" * 7919 + 5, lit(500)))).as("dst"))
      val canon = edges.select(least($"src", $"dst").as("u"),
          greatest($"src", $"dst").as("v"))
        .filter($"u" =!= $"v").distinct()
      val dump = graft.ops.KCore.kCore(edges, k)
        .select($"node", $"in_core".cast("int").as("in_core"),
          coalesce($"round", lit(0)).as("round"))
      materialize(dump, "q190_core")
      val nb = canon.select($"u".as("node"), $"v".as("nbr"))
        .unionByName(canon.select($"v".as("node"), $"u".as("nbr")))
      val info = dump.select($"node".as("nbr"), $"in_core".as("ic_n"),
        $"round".as("r_n"))
      dump.join(nb, Seq("node"), "left").join(info, Seq("nbr"), "left")
        .groupBy($"node", $"in_core", $"round")
        .agg(
          sum(when($"ic_n" === 1, 1).otherwise(0)).as("kdeg"),
          sum(when($"ic_n" === 1 || $"r_n" >= $"round", 1).otherwise(0))
            .as("sdeg_r"),
          sum(when($"ic_n" === 1 || $"r_n" >= $"round" - 1, 1)
            .otherwise(0)).as("sdeg_rm1"))
        .select($"node", $"in_core", $"round",
          when($"in_core" === 1, $"kdeg" >= k)
            .otherwise($"sdeg_r" < k &&
              ($"round" === 1 || $"sdeg_rm1" >= k))
            .cast("int").as("peel_ok"))
        .orderBy($"node")
    }),

    // readability (X163): Flesch Reading Ease from the exact-stated
    // vowel-group syllable heuristic — words/sentences/syllables and
    // the formula all replay in RE2 + arithmetic, identical op order
    // in both engines.
    "q191_readability" -> ((s, d) => {
      import s.implicits._
      val tf = graft.llmops.TextFuncs
      t(s, d, "documents").select($"doc_id",
          tf.tokenCount($"text").cast("long").as("n_words"),
          tf.sentenceCountApprox($"text").cast("long").as("n_sentences"),
          tf.syllableCountApprox($"text").cast("long").as("n_syllables"),
          round(tf.fleschReadingEase($"text"), 4).as("flesch"))
        .orderBy($"doc_id")
    }),

    // cross-source duplication matrix (X164): exact-dup PAIR counts
    // per source pair from per-(hash, source) COUNTS — n·(n−1)/2 on
    // the diagonal, n_a·n_b off it; a million-copy hash costs one
    // multiplication, not a pair join. Fully replayed.
    "q192_dup_matrix" -> ((s, d) => {
      import s.implicits._
      // the synthetic corpus has no exact dups (q20 plants its own),
      // so duplication is PLANTED: every third doc is mirrored into
      // "<source>_mirror", every fifteenth twice — giving off-diagonal
      // (origin, mirror) mass and a (mirror, mirror) diagonal
      val docs = t(s, d, "documents")
      val planted = docs.select($"source", $"text")
        .unionByName(docs.filter(pmod($"doc_id", lit(3)) === 0)
          .select(concat($"source", lit("_mirror")).as("source"),
            $"text"))
        .unionByName(docs.filter(pmod($"doc_id", lit(15)) === 0)
          .select(concat($"source", lit("_mirror")).as("source"),
            $"text"))
      graft.llmops.Dedup.crossSourceDupMatrix(planted)
        .orderBy($"source_a", $"source_b")
    }),

    // seasonal anomalies (X166): same z-scorer as q165, but the
    // trailing window partitions on (series, bucket % period) — each
    // Monday scores against past Mondays, so the weekday/weekend
    // swing neither inflates the scale estimate nor fires weekly
    // false alarms. Only the partition key changes; the oracle
    // replays it unchanged.
    "q193_seasonal_anomalies" -> ((s, d) => {
      import s.implicits._
      graft.ops.Anomaly.seasonalRateAnomalies(t(s, d, "events"),
          bucketMillis = 86400000L, period = 7, lookback = 4,
          threshold = 1.5)
        .withColumn("trail_mean", round($"trail_mean", 4))
        .withColumn("trail_std", round($"trail_std", 4))
        .withColumn("z", round($"z", 4))
        .withColumn("is_anomaly", $"is_anomaly".cast("int"))
        .orderBy($"event_type", $"bucket")
    }),

    // decontamination evidence (X167): which benchmark item leaked
    // into which corpus doc, with the shared-gram count and a
    // deterministic example — the audit trail behind q52/q76's
    // silent drops. Benchmark = every 17th doc's text (planted
    // overlap, the q192 move); n = 3 so partial overlaps appear too.
    "q194_decontam_report" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val bench = docs.filter(pmod($"doc_id", lit(17)) === 0)
        .select(($"doc_id" + 1000000L).as("bench_id"), $"text")
      graft.llmops.Dedup.decontaminationReport(docs, bench, n = 3)
        .orderBy($"doc_id", $"bench_id")
    }),

    // frontier interleave (X168): (round, slot) sort keys that fetch
    // every host's 1st URL before any host's 2nd with md5-rotated
    // host order per round — per-host politeness spacing as a sort
    // key, no scheduler state. Both windows and the rotation replay.
    "q195_frontier" -> ((s, d) => {
      import s.implicits._
      val links = t(s, d, "documents")
        .select(concat(lit("h"), pmod($"doc_id", lit(37))).as("host"),
          concat(lit("https://h"), pmod($"doc_id", lit(37)),
            lit("/"), $"doc_id").as("url"),
          pmod($"doc_id" * 7, lit(11)).as("prio"))
      graft.ops.Frontier.interleaveByHost(links, priorityCol = "prio")
        .select($"url", $"host", $"round", $"slot")
        .orderBy($"url")
    }),

    // prefix completions (X169): the autocomplete table — per
    // character prefix, top-k queries by (count desc, query asc),
    // query log = each doc's first two tokens. Dedupe-first, ≤ L
    // prefix rows per distinct query, WindowGroupLimit rank.
    "q196_prefix_completions" -> ((s, d) => {
      import s.implicits._
      val tf = graft.llmops.TextFuncs
      val qlog = t(s, d, "documents").select(
        array_join(slice(tf.tokens($"text"), 1, 2), " ").as("q"))
      graft.llmops.Keywords.prefixCompletions(qlog,
          maxPrefixLen = 6, k = 3)
        .select($"prefix", $"rank".cast("long").as("rank"),
          $"completion", $"n")
        .orderBy($"prefix", $"rank", $"completion")
    }),

    // top session journeys (X170): ranked ordered sequences of each
    // session's first 4 event types — the q148 session cut + a
    // position window + two roll-ups + TakeOrdered; every stage
    // replays.
    "q197_session_paths" -> ((s, d) => {
      import s.implicits._
      graft.ops.Paths.topSessionPaths(t(s, d, "events"),
        gapMillis = 1800000L, maxLen = 4, k = 15)
    }),

    // skew report (X171): top heavy keys + exact global distribution
    // stats — the pre-join diagnostic for the X25 salting decision.
    "q198_skew_report" -> ((s, d) => {
      import s.implicits._
      graft.ops.Profiling.skewReport(t(s, d, "events"), "user_id",
          k = 10)
        .withColumn("share", round($"share", 6))
        .withColumn("p99_n", round($"p99_n", 4))
        .orderBy($"n".desc, $"key")
    }),

    // CDC latest-wins merge (X172): fold planted upserts + deletes
    // into the customer snapshot — one union + one max_by on the
    // key, the lakehouse MERGE as a relational aggregate. The oracle
    // replays resolution with a row_number over the same order key.
    "q199_cdc_merge" -> ((s, d) => {
      import s.implicits._
      val cust = t(s, d, "customer")
      val snap = cust.select($"c_custkey", $"c_name", $"c_acctbal",
        lit(100L).as("v"))
      val ups = cust.filter(pmod($"c_custkey", lit(5)) === 0)
        .select($"c_custkey", concat($"c_name", lit("-v2")).as("c_name"),
          ($"c_acctbal" + 100).as("c_acctbal"), lit(200L).as("v"),
          lit("u").as("op"))
      val dels = cust.filter(pmod($"c_custkey", lit(11)) === 0)
        .select($"c_custkey", $"c_name", $"c_acctbal",
          lit(300L).as("v"), lit("d").as("op"))
      graft.ops.Merge.applyChanges(snap, ups.unionByName(dels),
          Seq("c_custkey"), "v")
        .orderBy($"c_custkey")
    }),

    // personalized PageRank (X173): teleport mass returns to the
    // seed set only (TrustRank) — spam interlinking cannot
    // manufacture paths FROM the seeds. Same q80 graph, seeds =
    // nodes 0..9, 2 rounds unrolled by the oracle.
    "q200_personalized_pagerank" -> ((s, d) => {
      import s.implicits._
      val edges = t(s, d, "documents")
        .select($"doc_id".as("src"),
          explode(array((0 until 3).map(k =>
            pmod($"doc_id" * 7919 + lit(k), lit(500))): _*)).as("dst"))
      val seeds = s.range(0, 10).select($"id".as("node"))
      graft.ops.PageRank.personalizedRanks(edges, seeds, iterations = 2)
        .filter($"node" < 60)
        .select($"node", round($"rank", 4).as("rank"))
        .orderBy($"node")
    }),

    // per-source rank normalization (X174): percent_rank within
    // source, derived from per-(source, value) cumulative counts
    // (no per-group raw-row window). The ORACLE uses DuckDB's native
    // percent_rank — the engine-native definition cross-validates
    // the relational derivation.
    "q201_rank_normalize" -> ((s, d) => {
      import s.implicits._
      val tf = graft.llmops.TextFuncs
      val scored = t(s, d, "documents")
        .select($"doc_id", $"source",
          tf.qualityScore($"text").as("q"))
      graft.llmops.Binning.rankNormalize(scored, "q", "source")
        .select($"doc_id", $"source", round($"q", 4).as("q"),
          round($"rank_norm", 6).as("rank_norm"))
        .orderBy($"doc_id")
    }),

    // per-shard export manifest (X175): row count + order-free
    // XOR/SUM fingerprints per shard — the transfer receipt for the
    // q144 export, replayed slice for slice.
    "q202_shard_manifest" -> ((s, d) => {
      import s.implicits._
      val export = t(s, d, "documents")
        .select(pmod(conv(substring(md5(
            concat($"doc_id".cast("string"), lit(":shard"))), 1, 4),
            16, 10).cast("long"), lit(16)).as("shard"),
          $"doc_id", $"text")
      graft.llmops.TrainExport.shardManifest(export, "shard",
          Seq("doc_id", "text"))
        .orderBy($"shard")
    }),

    // cross-source distinct overlap (X176): exact pairwise source
    // Jaccard of text sets from per-(hash, source) distincts — the
    // mirror-detection companion of q192's multiplicity-weighted
    // matrix. A planted mirror source overlaps every origin.
    "q203_source_overlap" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val planted = docs.select($"source", $"text")
        .unionByName(docs.filter(pmod($"doc_id", lit(4)) === 0)
          .select(lit("mirror").as("source"), $"text"))
      graft.llmops.Dedup.crossSourceOverlapMatrix(planted)
        .withColumn("jaccard", round($"jaccard", 6))
        .orderBy($"source_a", $"source_b")
    }),

    // functional-dependency audit (X177): does l_orderkey determine
    // l_returnflag (it doesn't — lines of one order return
    // independently), ranked violations with global counts attached.
    // Exact distinct counts: the contract is exact, a sketch would
    // report phantom violations.
    "q204_fd_audit" -> ((s, d) => {
      import s.implicits._
      graft.ops.Profiling.fdViolations(t(s, d, "lineitem"),
          Seq("l_orderkey"), "l_returnflag", k = 20)
        .orderBy($"n_rhs_values".desc, $"l_orderkey")
    }),

    // recrawl scheduling (X178): per-URL change-rate estimate from a
    // fetch history (hash-change count over observation span) and
    // the clamped next-fetch time — static pages back off to the max
    // interval, movers poll at span/changes. One lag window + one
    // groupBy; every number integer-exact and replayed.
    "q205_recrawl" -> ((s, d) => {
      import s.implicits._
      val hist = t(s, d, "events").select(
        concat(lit("u"), pmod($"user_id", lit(500))).as("url"),
        $"ts", $"event_type".as("content_hash"))
      graft.ops.Recrawl.schedule(hist, minIntervalMillis = 3600000L,
          maxIntervalMillis = 2592000000L)
        .orderBy($"url")
    }),

    // head+tail truncation (X179): budget-keep both context ends with
    // a marker; under-budget docs pass bit-identical (the md5 proves
    // it). Pure scalar projection; the oracle re-derives the
    // truncated string and hashes it.
    "q206_truncate_tokens" -> ((s, d) => {
      import s.implicits._
      val tf = graft.llmops.TextFuncs
      t(s, d, "documents").select($"doc_id",
          tf.tokenCount($"text").cast("long").as("n_tokens"),
          md5(tf.truncateTokens($"text", 40, 10)).as("trunc_md5"))
        .orderBy($"doc_id")
    }),

    // ops label-propagation communities (X180): the synchronous,
    // deterministic LPA variant over the q80 synthetic link graph —
    // per round, every node adopts its neighbors' most frequent
    // previous-round label (tie → smallest). Two rounds; the oracle
    // unrolls both as join + count + argmax, no recursion needed.
    "q207_label_propagation" -> ((s, d) => {
      import s.implicits._
      val edges = t(s, d, "documents")
        .select($"doc_id".as("src"),
          explode(array((0 until 3).map(k =>
            pmod($"doc_id" * 7919 + lit(k), lit(500))): _*)).as("dst"))
      graft.ops.Communities.labelPropagation(edges, iterations = 2)
        .orderBy($"node")
    }),

    // ops multi-source BFS distances (X181): min hop count from the
    // seed set {doc_id < 5} within 3 hops, undirected; unreachable
    // nodes absent. Oracle: recursive min-dist closure capped at the
    // same depth.
    "q208_bfs_distances" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val edges = docs
        .select($"doc_id".as("src"),
          explode(array((0 until 3).map(k =>
            pmod($"doc_id" * 7919 + lit(k), lit(500))): _*)).as("dst"))
      val seeds = docs.filter($"doc_id" < 5).select($"doc_id".as("node"))
      graft.ops.Bfs.distances(edges, seeds, maxDepth = 3)
        .orderBy($"node")
    }),

    // ops first/last-touch attribution (X182): per-channel conversion
    // credit under both models, one RANGE window per user — never a
    // conversions×touches self-join. Oracle mirrors the window with
    // the (ms, id) order encoded as ms*100000+event_id (valid at
    // oracle scale; the engine side uses a struct, scale-safe).
    "q209_attribution" -> ((s, d) => {
      import s.implicits._
      graft.ops.Attribution.report(t(s, d, "events"),
          touchTypes = Seq("view", "click"), conversionType = "purchase",
          lookbackMillis = 7L * 24 * 3600 * 1000)
        .orderBy($"model", $"touch_type")
    }),

    // ops basket co-occurrence lift (X183): event types co-occurring
    // in the same (user, hour) basket vs independence — distinct
    // presence semantics, two shuffles total.
    "q210_basket_lift" -> ((s, d) => {
      import s.implicits._
      graft.ops.Baskets.pairLift(t(s, d, "events"),
          struct($"user_id", date_trunc("hour", $"ts")))
        .orderBy($"item_a", $"item_b")
    }),

    // ops recrawl content drift (X184): normalized edit distance
    // between consecutive fetches of the same URL (capped comparison
    // window), one lag window per url — the how-much refinement of
    // q205's hash-level change rate. History synthesized from
    // documents: 50 URLs, versions ordered by doc_id.
    "q211_content_drift" -> ((s, d) => {
      import s.implicits._
      val hist = t(s, d, "documents").select(
        concat($"source", lit("/"), ($"doc_id" % 50).cast("string"))
          .as("url"),
        $"doc_id".as("ts"), $"text") // version counter as event time
      graft.ops.Recrawl.contentDrift(hist, maxChars = 200)
        .orderBy($"url", $"ts")
    }),

    // ops FK integrity audit (X185): orphan/null/dup-parent counts
    // for the two referential edges a TPC-H-ish pipeline joins across
    // — the pre-join data incident report, slim key projections only.
    "q212_fk_audit" -> ((s, d) => {
      import s.implicits._
      val P = graft.ops.Profiling
      P.fkAudit(t(s, d, "lineitem"), t(s, d, "orders"),
          "l_orderkey", "o_orderkey", "lineitem->orders")
        .unionByName(P.fkAudit(t(s, d, "orders"), t(s, d, "customer"),
          "o_custkey", "c_custkey", "orders->customer"))
        .orderBy($"relation")
    }),

    // llmops winsorize (X186): per-source outlier clamp of the length
    // column at the (p05, p95) band — exact interpolated percentiles,
    // rows preserved, thresholds exposed for audit.
    "q213_winsorize" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Binning.winsorize(
          t(s, d, "documents").select($"doc_id", $"source", $"n_chars"),
          "n_chars", "source", lo = 0.05, hi = 0.95)
        .select($"doc_id", $"source", $"n_chars",
          round($"winsorized_lo", 4).as("lo"),
          round($"winsorized_hi", 4).as("hi"), $"winsorized")
        .orderBy($"doc_id")
    }),

    // llmops calibration report (X187): is the q97 quality model's
    // prob-0.8 right 80% of the time? Reliability bins + ECE over the
    // bounded prCurve construction; the scored table is the dumped
    // deterministic intermediate, the binning/ECE arithmetic replays.
    "q214_calibration" -> ((s, d) => {
      import s.implicits._
      val Q = graft.llmops.QualityModel
      val docs = t(s, d, "documents")
      val labeled = docs.withColumn("label",
        (graft.llmops.TextFuncs.qualityScore($"text") >= 1.0).cast("int"))
      val (w, b) = Q.train(labeled)
      val scored = Q.score(docs, w, b)
        .join(labeled.select($"doc_id", $"label"), Seq("doc_id"))
      if (materializing)
        materialize(scored.select($"doc_id", round($"prob", 6).as("prob"),
          $"label"), "q214_scored")
      // bin on the SAME 6dp-rounded probs the oracle replays from the
      // dump — binning unrounded values risks a boundary flake when a
      // prob sits within 5e-7 of a bin edge
      Q.calibrationReport(scored.withColumn("prob", round($"prob", 6)),
          nBins = 10)
        .orderBy($"bin_lo")
    }),

    // llmops LSH recall audit (X188): the LSH tier's REALIZED recall
    // against the exact SSJoin ground truth in the same n-gram
    // Jaccard space, plus the S-curve's expected recall — the
    // measurement behind every "deduped at threshold t" claim. The
    // LSH pair set is dumped; the oracle recomputes the exact side
    // (q171's SQL) and the audit arithmetic independently.
    "q215_lsh_recall_audit" -> ((s, d) => {
      import s.implicits._
      // the audit's own recipe, exercised literally: measure realized
      // recall on a deterministic ~50% slice (the exact side is the
      // q171 price — paying it for the full corpus buys nothing the
      // slice doesn't already prove about the plan)
      val docs = t(s, d, "documents")
        .filter(substring(md5($"text"), 1, 2) < "80")
      // pin: the LSH pipeline feeds the dump and both audit joins
      val lsh = graft.llmops.Dedup.ngramJaccardPairs(docs,
        n = 3, threshold = 0.5).localCheckpoint(false)
      materialize(lsh.select($"id_a", $"id_b"), "q215_lsh_pairs")
      graft.llmops.Dedup.lshRecallAudit(docs, lsh,
        threshold = 0.5, n = 3)
    }),

    // ops sample-representativeness audit (X189): Pearson chi-square
    // goodness-of-fit of the md5-gated deterministic sample against
    // the source's category mix, per category — the receipt behind
    // every sampler's "distribution-preserving" claim.
    "q216_sample_audit" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val sample = docs.filter(
        substring(md5($"text"), 1, 2) < "40") // ~25% deterministic slice
      graft.ops.Profiling.sampleAudit(docs, sample, "source")
        .orderBy($"category")
    }),

    // llmops BM25F (X190): title/body fields fold into one weighted
    // tf BEFORE saturation (per-field BM25 sums saturate k1 once per
    // field — the known-wrong formulation). Fields derived: first 10
    // tokens as title (w=2, b=0.5), rest as body (w=1, b=0.75).
    "q217_bm25f" -> ((s, d) => {
      import s.implicits._
      val B = graft.llmops.Bm25
      val toks = graft.llmops.TextFuncs.tokens($"text")
      val fielded = t(s, d, "documents").select($"doc_id",
        array_join(slice(toks, 1, 10), " ").as("title"),
        array_join(slice(toks, lit(11),
          greatest(size(toks) - 10, lit(0))), " ").as("body"))
      B.topKFielded(fielded,
          Seq(B.Field("title", 2.0, 0.5), B.Field("body", 1.0, 0.75)),
          Seq("vector", "window", "merge", "stream"), k = 20)
        .select($"doc_id", $"n_terms_hit", $"score")
        .orderBy($"doc_id")
    }),

    // llmops margin-ordered multi-probe LSH ANN (X191): probe count
    // independent of plane count — 8 planes, 4 probes (the all-flips
    // q36 set would be 9). Buckets and probe sequences dumped; the
    // oracle replays candidate join + cosine + top-k.
    "q218_multiprobe_ann" -> ((s, d) => {
      import s.implicits._
      val V = graft.llmops.VectorFuncs
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      materialize(emb.select($"vec_id",
        V.rhpBucket($"embedding", 8).as("bucket")), "q218_cb")
      materialize(V.lshMultiProbes(q, 8, 4)
        .select($"query_id", $"bucket"), "q218_qb")
      V.lshMultiProbeTopK(emb, q, k = 5, planes = 8, nprobe = 4)
        .select($"query_id", $"vec_id", round($"sim", 4).as("sim"), $"rk")
        .orderBy($"query_id", $"rk")
    }),

    // llmops TextRank keywords (X193): per-document PageRank over the
    // word co-occurrence graph, all documents as ONE edge table keyed
    // (doc, term) — the graph counterpart of q189's RAKE. Two
    // synchronous rounds, unrolled relationally by the oracle.
    "q220_textrank" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Keywords.textrankKeywords(
          t(s, d, "documents").filter($"doc_id" < 40),
          k = 3, windowSize = 2, iterations = 2)
        .orderBy($"doc_id", $"rk")
    }),

    // llmops keyed pseudonymization (X194): identifiers hash to
    // stable pseudonyms that still join/aggregate; per-user activity
    // survives with the identity unlinkable without the key.
    "q221_pseudonymize" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Privacy.pseudonymize(t(s, d, "events"),
          Seq("user_id"), key = "rotate-2026")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"))
        .orderBy($"n_events".desc, $"user_id")
        .limit(20)
    }),

    // llmops k-anonymity audit (X195): how identifying are the
    // quasi-identifier columns in combination — the release-decision
    // row (classes smaller than k, and how many rows sit in them).
    "q222_k_anonymity" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Privacy.kAnonymityAudit(
        t(s, d, "documents")
          .withColumn("len_bucket", floor($"n_chars" / 200)),
        Seq("source", "lang", "len_bucket"), k = 5)
    }),

    // llmops Heaps'-law vocabulary growth (X196): vocab size at
    // nested deterministic corpus prefixes + the fitted exponent —
    // what more data buys, and whether the corpus is saturating.
    "q223_heaps_profile" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Vocab.heapsProfile(t(s, d, "documents"))
        .orderBy($"fraction")
    }),

    // llmops exact phrase search (X198): positional postings,
    // adjacency as slim (doc, pos+offset) equi-joins pruned to the
    // phrase terms — never a substring scan; overlapping occurrences
    // count (the positional semantics, which the oracle replays).
    "q224_phrase_search" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Phrase.phraseTopK(t(s, d, "documents"),
          Seq("table", "hash"), k = 15)
        .orderBy($"doc_id")
    }),

    // llmops log-odds distinctive terms (X197, Monroe et al.
    // "Fightin' Words"): per-source terms scored by the z-statistic
    // of their prior-shrunk log-odds vs the rest of the corpus —
    // skewed AND supported, unlike raw-ratio scores.
    "q225_distinctive_terms" -> ((s, d) => {
      import s.implicits._
      graft.llmops.TextFuncs.distinctiveTerms(t(s, d, "documents"),
          "source", k = 5)
        .orderBy($"group", $"rk")
    }),

    // ops community-quality report (X199): Newman modularity +
    // conductance for the q207 LPA labeling over the q80 graph —
    // the evaluation half a clustering needs before anyone acts on
    // it. Oracle replays the two LPA rounds AND the report arithmetic.
    "q226_community_report" -> ((s, d) => {
      import s.implicits._
      val edges = t(s, d, "documents")
        .select($"doc_id".as("src"),
          explode(array((0 until 3).map(k =>
            pmod($"doc_id" * 7919 + lit(k), lit(500))): _*)).as("dst"))
      val labels = graft.ops.Communities.labelPropagation(edges,
        iterations = 2)
      graft.ops.Communities.communityReport(edges, labels)
        .orderBy($"label")
    }),

    // ops concentration report (X200): Gini + top-decile share of
    // per-user event mass, per event type — the load-shape numbers
    // behind host caps and abuse decisions.
    "q227_concentration" -> ((s, d) => {
      import s.implicits._
      graft.ops.Profiling.concentrationReport(t(s, d, "events"),
          "event_type", "user_id", lit(1L))
        .orderBy($"group")
    }),

    // ops two-proportion A/B z-test (X201): deterministic hash
    // assignment, pooled z, one aggregation — did arm b purchase
    // more? (On hash-split uniform data the honest answer is "no",
    // and the test must SAY no: z small, significant false.)
    "q228_ab_test" -> ((s, d) => {
      import s.implicits._
      graft.ops.Experiments.abTest(t(s, d, "events"),
        conversionType = "purchase", salt = "exp1")
    }),

    // llmops semantic chunking (X203): chunk where the TOPIC moves —
    // consecutive planted sentences embed (md5-hash buckets) and a
    // boundary opens where rounded cosine < 0.3. Sentences planted
    // q131-style so the oracle replays segmentation + embedding +
    // drift + reassembly end to end.
    "q229_semantic_chunks" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").filter($"doc_id" % 6 === 3)
        .select($"doc_id", concat(
          lit("Alpha beta gamma delta one. "),
          lit("Alpha beta gamma two doc"), $"doc_id", lit(" delta. "),
          lit("Omega sigma tau upsilon three. "),
          lit("Omega sigma tau four "), $"source", lit(" upsilon."))
          .as("text"))
      graft.llmops.Chunking.semanticChunks(docs, dim = 64, minSim = 0.3)
        .select($"doc_id", $"chunk_idx", $"n_sentences",
          md5($"chunk_text").as("chunk_md5"))
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // llmops PCA contract (X204, the q89 estimate-contract pattern):
    // fit top-4 components of the embeddings, dump the model; both
    // engines then verify the CONTRACTS — unit norms, orthogonality,
    // per-component explained variance equal to the variance of the
    // projected coordinate (the eigenvalue identity), descending.
    "q230_pca_contract" -> ((s, d) => {
      import s.implicits._
      val P = graft.llmops.Pca
      val emb = t(s, d, "embeddings").where($"embedding".isNotNull)
      val m = P.fit(emb, k = 4)
      if (materializing) {
        val comps = for {
          c <- m.components.indices; i <- 0 until m.d
        } yield (c, i, m.components(c)(i))
        materialize(comps.toDF("component", "idx", "w"), "q230_components")
        materialize(m.mean.zipWithIndex.map(p => (p._2, p._1))
          .toSeq.toDF("idx", "m"), "q230_mean")
        materialize(m.explained.zipWithIndex.map(p => (p._2, p._1))
          .toSeq.toDF("component", "explained"), "q230_explained")
      }
      // coordinate variance in DOUBLE (the float32 projection would
      // truncate the 4th decimal the oracle compares) — ONE kernel
      // call per row, one scan for all k coordinates
      val coordStats = emb
        .select(P.projection($"embedding", m, asFloat = false).as("pc"))
        .select(posexplode($"pc").as(Seq("component", "coord")))
        .groupBy($"component")
        .agg((avg($"coord" * $"coord") - pow(avg($"coord"), 2.0))
          .as("coord_var"))
      val model = m.components.indices.map { c =>
        val norm = math.sqrt(m.components(c).map(x => x * x).sum)
        val maxCross = m.components.indices.filter(_ != c).map { o =>
          math.abs(m.components(c).zip(m.components(o))
            .map(p => p._1 * p._2).sum)
        }.max
        (c, m.explained(c), norm, maxCross)
      }.toDF("component", "explained", "norm", "max_cross")
      coordStats.join(model, Seq("component"))
        .select($"component",
          round($"explained", 4).as("explained"),
          round($"coord_var", 4).as("coord_var"),
          (abs($"coord_var" - $"explained") <=
            greatest(lit(1e-4), $"explained" * 0.01)).as("var_ok"),
          (abs($"norm" - 1.0) < 1e-6).as("norm_ok"),
          ($"max_cross" < 1e-6).as("orth_ok"))
        .orderBy($"component")
    }),

    // llmops PCA->ANN composition (X205): search in the top-4-of-8
    // PCA subspace against the FULL-EIGENBASIS centered-dot exact
    // top-5 — an apples-to-apples truncation measurement (rotating
    // into the full eigenbasis preserves centered dots exactly, so
    // the ONLY approximation is the discarded spectrum, whose
    // captured-variance fraction rides along as the predicted
    // effectiveness). The q89 metric family: score_ratio under the
    // exact similarity, recall as diagnostic.
    "q231_pca_ann" -> ((s, d) => {
      import s.implicits._
      val P = graft.llmops.Pca
      val emb = t(s, d, "embeddings").where($"embedding".isNotNull)
        .localCheckpoint(false)
      val m = P.fit(emb, k = 8) // full basis; search truncates to 4
      val kept = 4
      val explainedFrac = {
        val tot = m.explained.sum
        if (tot > 0) m.explained.take(kept).sum / tot else 1.0
      }
      if (materializing) {
        val comps = for {
          c <- m.components.indices; i <- 0 until m.d
        } yield (c, i, m.components(c)(i))
        materialize(comps.toDF("component", "idx", "w"), "q231_components")
        materialize(m.mean.zipWithIndex.map(p => (p._2, p._1))
          .toSeq.toDF("idx", "m"), "q231_mean")
        materialize(m.explained.zipWithIndex.map(p => (p._2, p._1))
          .toSeq.toDF("component", "explained"), "q231_explained")
      }
      // centered coordinates in DOUBLE (the q230 discipline), via the
      // centered mat-vec kernel — one call per row, not a k×d tree
      def coords(df: org.apache.spark.sql.DataFrame, idAs: String,
                 prefix: String) = {
        df.select($"vec_id".as(idAs),
            P.projection($"embedding", m, asFloat = false).as("__pc"))
          .select((col(idAs) +: (0 until m.k).map(c =>
            element_at($"__pc", c + 1).as(s"$prefix$c"))): _*)
      }
      val corpus = coords(emb, "vec_id", "c").localCheckpoint(false)
      val queries = coords(emb.filter($"vec_id" < 5), "query_id", "q")
      def simOver(n: Int) = (0 until n).map(c =>
        col(s"c$c") * col(s"q$c")).reduce(_ + _)
      val scored = corpus.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("sim_r", round(simOver(kept), 6))
        .withColumn("sim_full", round(simOver(m.k), 6))
        .localCheckpoint(false)
      def top5(simCol: String) = scored
        .groupBy($"query_id")
        .agg(graft.llmops.TopK.topK($"vec_id", col(simCol), 5).as("topk"))
        .select($"query_id", explode($"topk").as("t"))
        .select($"query_id", $"t._1".as("vec_id"))
      val picks = top5("sim_r")
      val exact = top5("sim_full")
      val trueDots = scored.select($"query_id", $"vec_id", $"sim_full")
      val sApprox = picks.join(trueDots, Seq("query_id", "vec_id"))
        .groupBy($"query_id").agg(sum($"sim_full").as("sa"))
      val sExact = exact.join(trueDots, Seq("query_id", "vec_id"))
        .groupBy($"query_id").agg(sum($"sim_full").as("se"))
      val hits = exact.join(picks, Seq("query_id", "vec_id"))
        .groupBy($"query_id").agg(count(lit(1)).as("h"))
      sExact
        .join(hits, Seq("query_id"), "left")
        .join(sApprox, Seq("query_id"), "left")
        .select($"query_id",
          coalesce($"h", lit(0L)).as("n_hits"),
          (coalesce($"h", lit(0L)) / 5.0).as("recall"),
          round(coalesce($"sa", lit(0.0)) / $"se", 4).as("score_ratio"),
          round(lit(explainedFrac), 4).as("explained_frac"),
          (round(coalesce($"sa", lit(0.0)) / $"se", 4) >= 0.3)
            .as("ratio_ok"))
        .orderBy($"query_id")
    }),

    // llmops pluggable word segmentation (X206): the SAME BM25 batch
    // under the char-level default vs a dictionary (maximal-munch)
    // segmenter, over a planted-Thai corpus built so the ranking
    // FLIPS — decoy docs made of the reversed word share every
    // CODEPOINT with the query word (char-level cannot tell them
    // apart and ranks them higher on tf) but share no WORD (the
    // dictionary segmenter drops them entirely). The oracle mirrors
    // char-level with the q169 isolation regex and the dictionary
    // with a longest-word-first replace chain (exact greedy mirror on
    // the planted corpus).
    "q232_bm25_segmented" -> ((s, d) => {
      import s.implicits._
      val Seg = graft.llmops.Segmenter
      val base = t(s, d, "documents").select($"doc_id", $"text")
      val planted = base.filter($"doc_id" < 20).select(
        ($"doc_id" + 970000).as("doc_id"),
        when($"doc_id" % 2 === 0,
          concat(lit("ข้อมูล"),
            repeat(lit("ทดสอบ"), ($"doc_id" % 3 + 1).cast("int"))))
          .otherwise(repeat(lit("มูลข้อ"), ($"doc_id" % 3 + 2).cast("int")))
          .as("text"))
      val docs = base.unionByName(planted)
      val queries = Seq((0L, "ข้อมูล"), (1L, "ทดสอบดี"))
        .toDF("query_id", "text")
      val dict = Seg.Dictionary(
        Set("ข้อมูล", "มูลข้อ", "ทดสอบ", "คุณภาพ", "ดี"))
      def side(tag: String, seg: graft.llmops.Segmenter) =
        graft.llmops.Bm25.topKBatch(docs, queries, k = 8, seg = seg)
          .withColumn("segmenter", lit(tag))
      side("char", Seg.CharLevel).unionByName(side("dict", dict))
        .select($"segmenter", $"query_id", $"rk", $"doc_id",
          $"n_terms_hit", $"score")
        .orderBy($"segmenter", $"query_id", $"rk")
    }),

    // io versioned corpus-table roots (X207): publish two snapshots of
    // a documents slice under one versioned root, then read CURRENT
    // through the pointer and audit v1→v2 with SnapshotDiff — the
    // oracle rebuilds both snapshots from the base table, so it checks
    // that the pointer genuinely resolved to v2 (stats equality) and
    // that the diff classified every key correctly.
    "q233_versioned_root" -> ((s, d) => {
      import s.implicits._
      val VT = graft.io.VersionedTable
      val root = "/root/repo/spark-warehouse/q233_root"
      VT.drop(s, root) // deterministic v1/v2 numbering per run
      val docs = t(s, d, "documents")
        .select($"doc_id", $"source", $"n_chars")
      VT.publish(docs.filter($"doc_id" % 7 =!= 0), root) // v1
      VT.publish(
        docs.filter($"doc_id" % 11 =!= 0)
          .withColumn("n_chars", $"n_chars" +
            when($"doc_id" % 5 === 0, 1).otherwise(0)),
        root) // v2
      val cur = VT.readCurrent(s, root)
      val curStats = cur.agg(
          count(lit(1)).as("current_rows"),
          sum($"n_chars").cast("long").as("current_n_chars"))
        .withColumn("current_version",
          lit(VT.currentVersion(s, root).get))
      VT.diff(s, root, 1, 2, "doc_id")
        .groupBy($"status").agg(count(lit(1)).as("n_keys"))
        .crossJoin(broadcast(curStats))
        .select($"status", $"n_keys", $"current_version",
          $"current_rows", $"current_n_chars")
        .orderBy($"status")
    }),

    // llmops l-diversity audit (X208): the homogeneity attack
    // k-anonymity (q222) misses — classes with too few DISTINCT
    // sensitive values disclose by membership alone. Same release-
    // dashboard shape as q222; NULL sensitive counts as a value
    // (plain GROUP BY at both levels, not count(DISTINCT)).
    "q234_l_diversity" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Privacy.lDiversityAudit(
        t(s, d, "documents")
          .withColumn("len_bucket", floor($"n_chars" / 500)),
        Seq("source", "len_bucket"), "lang", l = 2)
    }),

    // llmops embedding isotropy / effective-rank report (X209): is
    // the embedding's variance spread across directions (healthy) or
    // collapsed onto a few (the anisotropy pathology)? Full-spectrum
    // PCA fit + one norms aggregate; the trace identity
    // (Σλ = E‖x‖² − ‖μ‖²) audits the power iteration's own spectrum
    // against the raw data.
    "q235_isotropy" -> ((s, d) => {
      import s.implicits._
      val P = graft.llmops.Pca
      val emb = t(s, d, "embeddings").where($"embedding".isNotNull)
      if (materializing) {
        val d0 = emb.select(size($"embedding")).head().getInt(0)
        val m = P.fit(emb, k = d0) // the report's own full spectrum
        materialize(m.explained.zipWithIndex.map(p => (p._2, p._1))
          .toSeq.toDF("component", "explained"), "q235_explained")
        materialize(m.mean.zipWithIndex.map(p => (p._2, p._1))
          .toSeq.toDF("idx", "m"), "q235_mean")
      }
      P.isotropyReport(emb)
    }),

    // llmops dehyphenation / line-wrap repair (X210): plant wraps
    // into clean text deterministically, then verify the repairs
    // restore the original — per-doc booleans, both engines running
    // the identical RE2-safe regex chain.
    "q236_dehyphenate" -> ((s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val docs = t(s, d, "documents").filter($"doc_id" < 200)
        .select($"doc_id", $"text")
      docs
        .withColumn("wrapped", regexp_replace($"text", "er", "-\ner"))
        .withColumn("broken", regexp_replace($"text", "\\. ", ".\n"))
        .select($"doc_id",
          ((length($"wrapped") - length($"text")) / 2).cast("long")
            .as("n_wraps"),
          (T.dehyphenate($"wrapped") === $"text").as("dehyph_restores"),
          (T.unwrapLines($"broken") === $"text").as("unwrap_restores"))
        .orderBy($"doc_id")
    }),

    // llmops PSI drift report (X211): document-length distribution of
    // a deterministically shifted "current" snapshot binned by the
    // reference's exact deciles — the numeric-axis drift verdict next
    // to q216's categorical χ².
    "q237_psi_drift" -> ((s, d) => {
      import s.implicits._
      val base = t(s, d, "documents").select($"doc_id", $"n_chars")
      val ref = base.filter($"doc_id" % 2 === 0).select($"n_chars".as("v"))
      val cur = base.filter($"doc_id" % 2 =!= 0)
        .select(($"n_chars" + ($"doc_id" % 7) * 40).as("v"))
      graft.llmops.Binning.psiReport(ref, cur, "v", bins = 10)
        .orderBy($"bin")
    }),

    // llmops Good-Turing unseen mass (X212): P(next token is a new
    // type) ≈ N1/N per source — the point-in-time under-sampling
    // probe next to q223's diachronic Heaps profile.
    "q238_good_turing" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Vocab.goodTuringReport(t(s, d, "documents"))
        .orderBy($"source")
    }),

    // llmops Luhn-gated card redaction (X213): four planted card
    // constants per doc (two valid, one valid-with-separators, one
    // Luhn-failing) — the oracle re-runs the candidate regex AND the
    // mod-10 checksum digit by digit, then verifies the redaction via
    // occurrence-count length arithmetic.
    "q239_card_redaction" -> ((s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val cards = array(lit("4111111111111111"),
        lit("4111 1111 1111 1111"), lit("5500-0055-5555-5559"),
        lit("4111111111111112"))
      val planted = t(s, d, "documents")
        .filter($"doc_id" < 100 && $"text".isNotNull)
        .select($"doc_id", concat($"text", lit(" card: "),
          element_at(cards, ($"doc_id" % 4 + 1).cast("int"))).as("t2"))
      planted.select($"doc_id",
          size(T.cardCandidates($"t2")).as("n_candidates"),
          size(T.validCards($"t2")).as("n_valid"),
          length(T.redactCards($"t2")).as("redacted_len"),
          (size(split(T.redactCards($"t2"), "<CARD>", -1)) - 1)
            .as("n_tags"))
        .orderBy($"doc_id")
    }),

    // llmops embedding-outlier report (X214): plant one vector scaled
    // 100x and ask for the top-10 centroid-distance z-scores — the
    // pre-index hygiene pass, exact and fully replayed in SQL.
    "q240_embedding_outliers" -> ((s, d) => {
      import s.implicits._
      val base = t(s, d, "embeddings").where($"embedding".isNotNull)
        .select($"vec_id", $"embedding")
      val planted = base.unionByName(
        base.filter($"vec_id" === 0).select(lit(990000L).as("vec_id"),
          transform($"embedding", x => (x * 100f).cast("float"))
            .as("embedding")))
      graft.llmops.VectorFuncs.embeddingOutliers(planted, k = 10)
    }),

    // ops graph health report (X215): reciprocity + degree
    // assortativity over a synthetic link graph with a planted
    // reciprocal layer and self-loops — the whole-graph sanity
    // numbers next to the per-node PageRank/HITS/triangle family.
    "q241_graph_health" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val fwd = docs.select($"doc_id".as("src"), explode(array(
        pmod($"doc_id" * 7919 + 1, lit(500)),
        pmod($"doc_id" + 3, lit(500)))).as("dst"))
      val recip = docs.filter($"doc_id" % 5 === 0)
        .select(pmod($"doc_id" + 3, lit(500)).as("src"),
          $"doc_id".as("dst"))
      val loops = docs.filter($"doc_id" % 97 === 0)
        .select($"doc_id".as("src"), $"doc_id".as("dst"))
      graft.ops.GraphStats.healthReport(
        fwd.unionByName(recip).unionByName(loops))
    }),

    // llmops fuzzy entity matching (X218): first-word "names" plus
    // planted 2↔3-character transposition twins — blocked JW pairs;
    // the oracle runs DuckDB's own jaro_winkler_similarity, so the
    // kernel's conventions (window, transpositions, 0.7 boost
    // threshold, prefix cap 4) are pinned against an independent
    // implementation, not a mirror of ours.
    "q243_fuzzy_pairs" -> ((s, d) => {
      import s.implicits._
      val base = t(s, d, "documents")
        .filter($"doc_id" < 200 && $"text".isNotNull)
        .select($"doc_id",
          lower(element_at(split(trim($"text"), "\\s+"), 1)).as("name"))
        .filter(length($"name") >= 4)
      val twins = base.filter($"doc_id" < 30)
        .select(($"doc_id" + 980000).as("doc_id"),
          concat(substring($"name", 1, 1), substring($"name", 3, 1),
            substring($"name", 2, 1), expr("substring(name, 4)"))
            .as("name"))
      graft.llmops.Fuzzy.jaroWinklerPairs(base.unionByName(twins),
          threshold = 0.85, idCol = "doc_id", nameCol = "name")
        .orderBy($"id_a", $"id_b")
    }),

    // ops single change-point (X219): per event type, the bucket after
    // which the hourly level shifted most (least-squares two-segment
    // criterion); cumsums, segment means, and the earliest-argmax all
    // replay relationally.
    "q244_change_point" -> ((s, d) => {
      import s.implicits._
      graft.ops.Anomaly.changePoint(t(s, d, "events"),
          bucketMillis = 3600000L)
        .orderBy($"event_type")
    }),

    // io column-profile drift (X220): two published snapshots with a
    // removed column, an added column, and a null-rate shift — the
    // schema-level companion of q233's row diff.
    "q245_profile_drift" -> ((s, d) => {
      import s.implicits._
      val VT = graft.io.VersionedTable
      val root = "/root/repo/spark-warehouse/q245_root"
      VT.drop(s, root)
      val docs = t(s, d, "documents")
      VT.publish(docs.select($"doc_id", $"source", $"lang", $"n_chars"),
        root) // v1
      VT.publish(docs.select($"doc_id", $"source",
        when($"doc_id" % 13 =!= 0, $"lang").as("lang"),
        floor($"n_chars" / 500).as("len_bucket")), root) // v2
      VT.profileDrift(s, root, 1, 2).orderBy($"col_name")
    }),

    // llmops soft dedup (X221): near-dup families down-weighted to
    // 1/|cluster| instead of dropped — LSH proposes, CC labels, the
    // oracle replays the clustering from the dumped edges (q69
    // machinery) and the weight arithmetic exactly.
    "q246_soft_dedup" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      materialize(graft.llmops.Dedup.minhashPairs(docs, threshold = 0.7)
        .select($"id_a", $"id_b"), "q246_edges")
      graft.llmops.Dedup.softWeights(docs, threshold = 0.7)
        .orderBy($"doc_id")
    }),

    // llmops entity resolution end-to-end (X222): the q243 fuzzy
    // pairs → connected components → canonical record per entity;
    // oracle replays CC from the dumped pairs and rebuilds the name
    // table from the same derivation.
    "q247_entity_clusters" -> ((s, d) => {
      import s.implicits._
      val base = t(s, d, "documents")
        .filter($"doc_id" < 200 && $"text".isNotNull)
        .select($"doc_id",
          lower(element_at(split(trim($"text"), "\\s+"), 1)).as("name"))
        .filter(length($"name") >= 4)
      val twins = base.filter($"doc_id" < 30)
        .select(($"doc_id" + 980000).as("doc_id"),
          concat(substring($"name", 1, 1), substring($"name", 3, 1),
            substring($"name", 2, 1), expr("substring(name, 4)"))
            .as("name"))
      val named = base.unionByName(twins)
      materialize(graft.llmops.Fuzzy.jaroWinklerPairs(named, 0.85,
        "doc_id", "name").select($"id_a", $"id_b"), "q247_pairs")
      graft.llmops.Fuzzy.entityClusters(named, threshold = 0.85,
          idCol = "doc_id", nameCol = "name")
        .orderBy($"entity_id")
    }),

    // llmops quote detection (X224): benchmark docs planted as real
    // 21-token quotes of corpus docs (plus framing) — the audit must
    // size each quote, not just flag overlap; islands replayed in SQL.
    "q249_quote_spans" -> ((s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val docs = t(s, d, "documents").where($"text".isNotNull)
        .select($"doc_id", $"text")
      val bench = docs.filter($"doc_id" < 10).select(
        ($"doc_id" + 990000).as("doc_id"),
        concat(lit("benchframe opens here "),
          concat_ws(" ", slice(T.tokens($"text"), 5, 21)),
          lit(" and benchframe closes")).as("text"))
      graft.llmops.Dedup.quoteSpans(docs, bench, n = 8,
          minSharedNgrams = 3)
        .orderBy($"corpus_id", $"ref_id")
    }),

    // io incremental publish (X225): a full snapshot plus two append
    // versions whose manifests chain back to it — the current read
    // serves the whole chain, a pinned mid-chain read serves only its
    // ancestors, and the lineage string pins the manifest resolution.
    "q250_append_publish" -> ((s, d) => {
      import s.implicits._
      val VT = graft.io.VersionedTable
      val root = "/root/repo/spark-warehouse/q250_root"
      VT.drop(s, root) // deterministic version numbering per run
      val docs = t(s, d, "documents")
        .select($"doc_id", $"source", $"n_chars")
      VT.publish(docs.filter($"doc_id" % 3 === 0), root)       // v1
      VT.publishAppend(docs.filter($"doc_id" % 3 === 1), root) // v2
      VT.publishAppend(docs.filter($"doc_id" % 3 === 2), root) // v3
      VT.readCurrent(s, root)
        .agg(count(lit(1)).as("rows_v3"),
          sum($"n_chars").cast("long").as("chars_v3"))
        .crossJoin(broadcast(VT.read(s, root, 2)
          .agg(count(lit(1)).as("rows_v2"))))
        .withColumn("lineage_v3",
          lit(VT.lineage(s, root, 3).mkString(">")))
    }),

    // ops Cohen's kappa (X226): lang as rater A, a deterministically
    // perturbed copy as rater B (every 7th item disagrees to 'zz',
    // every 13th is unlabeled and must be excluded) — the
    // chance-corrected agreement arithmetic replays exactly.
    "q251_cohen_kappa" -> ((s, d) => {
      import s.implicits._
      val items = t(s, d, "documents")
        .filter($"doc_id" < 500 && $"lang".isNotNull)
        .select($"doc_id", $"lang".as("rater_a"),
          when($"doc_id" % 13 === 0, lit(null).cast("string"))
            .otherwise(when($"doc_id" % 7 === 0, lit("zz"))
              .otherwise($"lang")).as("rater_b"))
      graft.ops.Labeling.cohenKappa(items, "rater_a", "rater_b")
    }),

    // llmops ROUGE-N (X227): candidate = first 30 tokens (emptied for
    // every 17th doc — the zero-denominator path), reference = tokens
    // 11..40, so overlap is a real partial window; clipped bag
    // bigram counts replay from the same tokenization.
    "q252_rouge_n" -> ((s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val base = t(s, d, "documents")
        .filter($"doc_id" < 300 && $"text".isNotNull)
        .select($"doc_id",
          when($"doc_id" % 17 === 0, lit(""))
            .otherwise(concat_ws(" ", slice(T.tokens($"text"), 1, 30)))
            .as("candidate"),
          concat_ws(" ", slice(T.tokens($"text"), 11, 30))
            .as("reference"))
      graft.llmops.Rouge.rougeN(base, n = 2).orderBy($"doc_id")
    }),

    // llmops chat-transcript audit (X228): conversations synthesized
    // as real JSON (2-5 turns; every 5th breaks alternation, every
    // 7th has an empty opening turn, every 13th+1 opens with a
    // SYSTEM turn — unknown-role mass, every 19th+3 is a valid empty
    // transcript, every 23rd is malformed JSON), DUMPED, and
    // re-audited by DuckDB's own JSON functions — a cross-engine
    // parse, not a mirror of our parse.
    "q253_chat_audit" -> ((s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val base = t(s, d, "documents")
        .filter($"doc_id" < 60 && $"text".isNotNull)
      val toks = T.tokens($"text")
      val nT = ($"doc_id" % 4 + 2).cast("int")
      val turns = transform(sequence(lit(0), nT - 1), i => struct(
        when($"doc_id" % 13 === 1 && i === 0, lit("system"))
          .otherwise(when($"doc_id" % 5 === 0 && i === 1, lit("user"))
            .otherwise(when(i % 2 === 0, "user").otherwise("assistant")))
          .as("role"),
        when($"doc_id" % 7 === 0 && i === 0, lit(""))
          .otherwise(concat_ws(" ",
            slice(toks, i * lit(5) + 1, lit(4)))).as("content")))
      val convos = base.select($"doc_id".as("convo_id"),
        when($"doc_id" % 23 === 0, lit("{not json"))
          .when($"doc_id" % 19 === 3, lit("[]"))
          .otherwise(to_json(turns)).as("convo_json"))
      materialize(convos, "q253_convos")
      graft.llmops.Chat.transcriptAudit(convos).orderBy($"convo_id")
    }),

    // llmops Burrows' Delta (X229): function-word z-score geometry
    // between the corpus sources; vocab head, dense grid with genuine
    // zeros, and population-sd z-scores all replay relationally.
    "q254_burrows_delta" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Stylometry.burrowsDelta(t(s, d, "documents"),
          k = 40, groupCol = "source")
        .orderBy($"group_a", $"group_b")
    }),

    // llmops split-leakage audit (X230): hash-banded train/val/test
    // assignment with planted near-copies of train docs labeled test
    // — the audit must count exactly the straddling near-dup pairs;
    // oracle replays the grouping from the dumped LSH edges.
    "q255_split_leakage" -> ((s, d) => {
      import s.implicits._
      val docs0 = t(s, d, "documents").where($"text".isNotNull)
        .select($"doc_id", $"text")
      val base = docs0.withColumn("split",
        when($"doc_id" % 10 < 8, "train")
          .when($"doc_id" % 10 === 8, "val").otherwise("test"))
      val planted = docs0.filter($"doc_id" < 20 && $"doc_id" % 10 < 8)
        .select(($"doc_id" + 700000).as("doc_id"), $"text",
          lit("test").as("split"))
      val all = base.unionByName(planted)
      materialize(graft.llmops.Dedup.minhashPairs(all, threshold = 0.8)
        .select($"id_a", $"id_b"), "q255_edges")
      graft.llmops.Dedup.splitLeakage(all, threshold = 0.8)
        .orderBy($"split_a", $"split_b")
    }),

    // ops Krippendorff's alpha (X233): three raters in long format —
    // one perturbed every 7th item, one MISSING every 11th and
    // divergent every 13th — the coincidence-matrix arithmetic
    // (pairable units, D_o, D_e) replays exactly.
    "q258_krippendorff_alpha" -> ((s, d) => {
      import s.implicits._
      val items = t(s, d, "documents")
        .filter($"doc_id" < 400 && $"lang".isNotNull)
        .select($"doc_id", explode(array(
          $"lang",
          when($"doc_id" % 7 === 0, lit("zz")).otherwise($"lang"),
          when($"doc_id" % 11 === 0, lit(null).cast("string"))
            .otherwise(when($"doc_id" % 13 === 0, lit("yy"))
              .otherwise($"lang")))).as("label"))
      graft.ops.Labeling.krippendorffAlpha(items, "doc_id", "label")
    }),

    // llmops keep-policy exact dedup (X232): copies planted under
    // HIGHER ids must win under the keep-newest policy (the inverse
    // of q20's keep-lowest baseline) — struct-max argmax per content
    // group, replayed with a row_number window in the oracle.
    "q256_keep_policy_dedup" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").where($"text".isNotNull)
        .select($"doc_id", $"text")
      val dup = docs.unionByName(
        docs.filter($"doc_id" % 3 === 0)
          .select(($"doc_id" + 800000).as("doc_id"), $"text"))
      graft.llmops.Dedup.exactKeepBy(dup, orderCol = "doc_id")
        .select($"doc_id").orderBy($"doc_id")
    }),

    // ops crawl politeness audit (X231): the events ledger read as
    // per-host fetches — consecutive-gap stats and floor violations
    // replay through the same lag window.
    "q257_politeness_audit" -> ((s, d) => {
      import s.implicits._
      val fetches = t(s, d, "events")
        .select(concat(lit("h"), ($"user_id" % 40).cast("string"))
          .as("host"), $"ts")
      graft.ops.Recrawl.politenessAudit(fetches,
          minGapMillis = 60000L)
        .orderBy($"host")
    }),

    // llmops ROUGE-L (X234): same candidate/reference windows as
    // q252 but graded by ORDER — the per-pair LCS kernel value is
    // dumped, and the oracle rebuilds token counts with its OWN
    // tokenizer and replays the metric arithmetic (the kernel itself
    // is spec-pinned against a reference recursion).
    "q259_rouge_l" -> ((s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val base = t(s, d, "documents")
        .filter($"doc_id" < 300 && $"text".isNotNull)
        .select($"doc_id",
          when($"doc_id" % 17 === 0, lit(""))
            .otherwise(concat_ws(" ", slice(T.tokens($"text"), 1, 30)))
            .as("candidate"),
          concat_ws(" ", slice(T.tokens($"text"), 11, 30))
            .as("reference"))
      val res = graft.llmops.Rouge.rougeL(base).orderBy($"doc_id")
      materialize(res.select($"doc_id", $"lcs"), "q259_lcs")
      res
    }),

    // ops weighted kappa (X235): 1..5 Likert scores from n_chars,
    // rater B one step high every 7th item and three every 11th
    // (clamped to the scale), unlabeled every 13th — the
    // distance-priced chance correction replays through the
    // marginal grid.
    "q260_weighted_kappa" -> ((s, d) => {
      import s.implicits._
      val items = t(s, d, "documents")
        .filter($"doc_id" < 500 && $"n_chars".isNotNull)
        .select($"doc_id",
          ($"n_chars" % 5 + 1).cast("int").as("rater_a"))
        .withColumn("rater_b",
          when($"doc_id" % 13 === 0, lit(null).cast("int"))
            .otherwise(least(
              $"rater_a" + when($"doc_id" % 11 === 0, 3)
                .otherwise(when($"doc_id" % 7 === 0, 1).otherwise(0)),
              lit(5))))
      graft.ops.Labeling.weightedKappa(items, "rater_a", "rater_b")
    }),

    // ops interval Krippendorff (X236): numeric 1..7 scores, rater 2
    // one step high every 7th item, rater 3 missing every 11th and
    // three steps off every 13th — the squared-difference coincidence
    // arithmetic (per-unit moment sums) replays exactly.
    "q261_alpha_interval" -> ((s, d) => {
      import s.implicits._
      val base = ($"n_chars" % 7 + 1).cast("double")
      val items = t(s, d, "documents")
        .filter($"doc_id" < 400 && $"n_chars".isNotNull)
        .select($"doc_id", explode(array(
          base,
          base + when($"doc_id" % 7 === 0, 1.0).otherwise(0.0),
          when($"doc_id" % 11 === 0, lit(null).cast("double"))
            .otherwise(base + when($"doc_id" % 13 === 0, 3.0)
              .otherwise(0.0)))).as("score"))
      graft.ops.Labeling.krippendorffAlphaInterval(items,
        "doc_id", "score")
    }),

    // llmops actionable split leakage (X230): same planted
    // train→test near-copies as q255, but listing WHICH
    // (id, id, split, split) pairs straddle — the quarantine list;
    // oracle replays the pairing + split derivation from the dumped
    // LSH edges.
    "q262_leakage_pairs" -> ((s, d) => {
      import s.implicits._
      val docs0 = t(s, d, "documents").where($"text".isNotNull)
        .select($"doc_id", $"text")
      val base = docs0.withColumn("split",
        when($"doc_id" % 10 < 8, "train")
          .when($"doc_id" % 10 === 8, "val").otherwise("test"))
      val planted = docs0.filter($"doc_id" < 20 && $"doc_id" % 10 < 8)
        .select(($"doc_id" + 700000).as("doc_id"), $"text",
          lit("test").as("split"))
      val all = base.unionByName(planted)
      materialize(graft.llmops.Dedup.minhashPairs(all, threshold = 0.8)
        .select($"id_a", $"id_b"), "q262_edges")
      graft.llmops.Dedup.splitLeakagePairs(all, threshold = 0.8)
        .orderBy($"id_a", $"id_b")
    }),

    // ops Fleiss' kappa (X237): a fixed 3-rater panel over lang
    // labels (rater 2 'zz' every 7th, rater 3 'yy' every 13th);
    // every 11th item gets a FOURTH assignment and must be dropped
    // from the panel arithmetic — pooled-marginal chance replay.
    "q263_fleiss_kappa" -> ((s, d) => {
      import s.implicits._
      val r2 = when($"doc_id" % 7 === 0, lit("zz")).otherwise($"lang")
      val r3 = when($"doc_id" % 13 === 0, lit("yy")).otherwise($"lang")
      val items = t(s, d, "documents")
        .filter($"doc_id" < 400 && $"lang".isNotNull)
        .select($"doc_id", explode(
          when($"doc_id" % 11 === 0,
            array($"lang", r2, r3, lit("xx")))
            .otherwise(array($"lang", r2, r3))).as("label"))
      graft.ops.Labeling.fleissKappa(items, "doc_id", "label",
        raters = 3)
    }),

    // ops politeness audit with fetch DURATIONS (X231): end-aware
    // gaps (start vs previous END) over the events ledger — long
    // fetches shrink gaps and overlapping fetches go negative,
    // violations the start-to-start q257 audit cannot see.
    "q264_politeness_overlap" -> ((s, d) => {
      import s.implicits._
      val fetches = t(s, d, "events")
        .select(concat(lit("h"), ($"user_id" % 40).cast("string"))
          .as("host"), $"ts",
          ($"ts" + make_dt_interval(lit(0), lit(0), lit(0),
            ($"event_id" % 90).cast("double"))).as("end_ts"))
      graft.ops.Recrawl.politenessAudit(fetches,
          minGapMillis = 60000L, endCol = Some("end_ts"))
        .orderBy($"host")
    }),

    // ops Gwet's AC1 (X239): the same rater pair as q251 scored by
    // the prevalence-robust chance term — averaged marginals,
    // random-category gamma_e, AC1 from the rounded pair.
    "q265_gwet_ac1" -> ((s, d) => {
      import s.implicits._
      val items = t(s, d, "documents")
        .filter($"doc_id" < 500 && $"lang".isNotNull)
        .select($"doc_id", $"lang".as("rater_a"),
          when($"doc_id" % 13 === 0, lit(null).cast("string"))
            .otherwise(when($"doc_id" % 7 === 0, lit("zz"))
              .otherwise($"lang")).as("rater_b"))
      graft.ops.Labeling.gwetAC1(items, "rater_a", "rater_b")
    }),

    // ops ordinal Krippendorff (X240): the q261 scores read as RANKS
    // — the marginal-walking difference function (cumulative window,
    // label-pair grid, within-unit pairs) replays relationally.
    "q266_alpha_ordinal" -> ((s, d) => {
      import s.implicits._
      val base = ($"n_chars" % 7 + 1).cast("int")
      val items = t(s, d, "documents")
        .filter($"doc_id" < 400 && $"n_chars".isNotNull)
        .select($"doc_id", explode(array(
          base,
          base + when($"doc_id" % 7 === 0, 1).otherwise(0),
          when($"doc_id" % 11 === 0, lit(null).cast("int"))
            .otherwise(base + when($"doc_id" % 13 === 0, 3)
              .otherwise(0)))).as("label"))
      graft.ops.Labeling.krippendorffAlphaOrdinal(items,
        "doc_id", "label")
    }),

    // ops consensus labels (X241): 3-rater majority vote per item —
    // winning label, vote counts, support share; argmax replayed
    // with a row_number window in the oracle.
    "q267_consensus_labels" -> ((s, d) => {
      import s.implicits._
      val items = t(s, d, "documents")
        .filter($"doc_id" < 400 && $"lang".isNotNull)
        .select($"doc_id", explode(array(
          $"lang",
          when($"doc_id" % 7 === 0, lit("zz")).otherwise($"lang"),
          when($"doc_id" % 13 === 0, lit("yy")).otherwise($"lang")))
          .as("label"))
      graft.ops.Labeling.consensusLabels(items, "doc_id", "label")
        .orderBy($"doc_id")
    }),

    // ops rater outliers (X241): five raters, one ('r5') diverging
    // on every 2nd item — its agreement-with-consensus z-score must
    // flag it while the healthy raters pass.
    "q268_rater_outliers" -> ((s, d) => {
      import s.implicits._
      val items = t(s, d, "documents")
        .filter($"doc_id" < 400 && $"lang".isNotNull)
        .select($"doc_id", explode(array(
          struct(lit("r1").as("rater"), $"lang".as("label")),
          struct(lit("r2").as("rater"), $"lang".as("label")),
          struct(lit("r3").as("rater"), $"lang".as("label")),
          struct(lit("r4").as("rater"),
            when($"doc_id" % 7 === 0, lit("zz")).otherwise($"lang")
              .as("label")),
          struct(lit("r5").as("rater"),
            when($"doc_id" % 2 === 0, lit("qq")).otherwise($"lang")
              .as("label")))).as("rl"))
        .select($"doc_id", $"rl.rater".as("rater"),
          $"rl.label".as("label"))
      graft.ops.Labeling.raterOutliers(items, "doc_id", "rater",
          "label", zThresh = 1.5)
        .orderBy($"rater")
    }),

    // llmops BLEU-4 (X242): the q252 candidate/reference windows
    // scored by clipped multi-n precisions + brevity penalty — the
    // (id, n, gram) join and the rounded-component chain (nested
    // sqrt geometric mean) replay relationally.
    "q269_bleu" -> ((s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val base = t(s, d, "documents")
        .filter($"doc_id" < 300 && $"text".isNotNull)
        .select($"doc_id",
          when($"doc_id" % 17 === 0, lit(""))
            .otherwise(concat_ws(" ", slice(T.tokens($"text"), 1, 30)))
            .as("candidate"),
          concat_ws(" ", slice(T.tokens($"text"), 11, 30))
            .as("reference"))
      graft.llmops.GenEval.bleu(base).orderBy($"doc_id")
    }),

    // llmops chrF2 (X242): the same pairs scored on character
    // n-grams over whitespace-stripped text — macro-averaged P/R,
    // recall-weighted F; tokenization-robust by construction.
    "q270_chrf" -> ((s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val base = t(s, d, "documents")
        .filter($"doc_id" < 300 && $"text".isNotNull)
        .select($"doc_id",
          when($"doc_id" % 17 === 0, lit(""))
            .otherwise(concat_ws(" ", slice(T.tokens($"text"), 1, 30)))
            .as("candidate"),
          concat_ws(" ", slice(T.tokens($"text"), 11, 30))
            .as("reference"))
      graft.llmops.GenEval.chrF(base).orderBy($"doc_id")
    }),

    // llmops term burstiness (X223): variance-to-mean dispersion of
    // per-doc counts, zeros in closed form — topical terms clump,
    // function words scatter; exact moment arithmetic replays.
    "q248_burstiness" -> ((s, d) => {
      import s.implicits._
      graft.llmops.Vocab.burstinessReport(t(s, d, "documents"),
        k = 50, minDf = 5)
    }),

    // streaming PSI twin, batch mode (X216): per-hour drift of the
    // events value distribution against a fixed reference — the q237
    // arithmetic as ONE streaming-legal windowed aggregate; the
    // streaming path is spec-pinned equal (EventStreamsSpec).
    "q242_psi_windows" -> ((s, d) => {
      import s.implicits._
      graft.streaming.EventStreams.psiWindows(
          t(s, d, "events").select($"ts", $"value"),
          edges = Seq(5.0, 20.0, 100.0),
          refProps = Seq(0.4, 0.3, 0.2, 0.1),
          windowLen = "1 hour")
        .orderBy($"window_start")
    }),

    // llmops semantic decontamination (X192): corpus vectors within
    // cosine 0.97 of any benchmark vector are contamination — the
    // embedding-space axis n-gram/bloom decontamination cannot see.
    // IVF-asymmetric (corpus indexes once, the small benchmark probes),
    // NO bucket caps (recall obligation). Output = the evidence table.
    "q219_semantic_decontam" -> ((s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val bench = emb.filter($"vec_id" < 25)
      val cents = I.kmeansCentroids(emb, nlist = 16, iters = 2)
      if (materializing) {
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          element_at(I.nearest_centroids($"embedding", cents, 1), 1)
            .as("list_id")), "q219_assigned")
        materialize(bench.where($"embedding".isNotNull).select(
          $"vec_id".as("bench_id"),
          explode(I.nearest_centroids($"embedding", cents, 2))
            .as("list_id")), "q219_probes")
      }
      graft.llmops.Dedup.semanticContaminationEvidence(emb, bench,
          threshold = 0.97, cents, nprobe = 2)
        .orderBy($"corpus_id", $"bench_id")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         sum(l_extendedprice) AS sum_base_price,
         sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
         avg(l_quantity) AS avg_qty,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q02_segment_filter" ->
      """SELECT c_mktsegment, count(*) AS n_cust, sum(c_acctbal) AS total_bal
         FROM customer WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q03_case_classify" ->
      """SELECT CASE WHEN p_type = 'PROMO' THEN 'promo'
                     WHEN p_type IN ('SMALL','MEDIUM') THEN 'compact'
                     WHEN p_size >= 40 THEN 'oversize'
                     ELSE 'standard' END AS class,
                count(*) AS n, avg(p_retailprice) AS avg_price
         FROM part GROUP BY 1 ORDER BY class""",
    "q04_join_broadcast" ->
      """SELECT c_nationkey, count(*) AS n_orders, sum(o_totalprice) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q05_join_multi" ->
      """SELECT r_name, count(*) AS n_cust, sum(c_acctbal) AS total_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q06_argmax_latest" ->
      """SELECT o_custkey, o_orderdate AS latest_date, o_orderkey AS latest_orderkey
         FROM (SELECT o_custkey, o_orderdate, o_orderkey,
                      row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
               FROM orders)
         WHERE rn = 1 ORDER BY o_custkey""",
    "q07_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""",
    "q08_dedup_count" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q09_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_no_orders
         FROM customer WHERE c_custkey NOT IN
           (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q10_union_distinct" ->
      """SELECT count(*) AS n_distinct_parts FROM (
           SELECT DISTINCT pk FROM (
             SELECT l_partkey AS pk FROM lineitem
             UNION ALL SELECT p_partkey AS pk FROM part))""",
    "q11_string_ops" ->
      """SELECT source, count(*) AS n_docs, sum(length(text))::BIGINT AS total_chars,
                sum(CASE WHEN lower(text) LIKE '%spark%' THEN 1 ELSE 0 END)::BIGINT AS n_spark,
                min(split_part(trim(text), ' ', 1)) AS first_word
         FROM documents GROUP BY source ORDER BY source""",
    "q12_regex_extract" ->
      """SELECT event_type, count(*) AS n,
                sum(regexp_extract(props, '"k": (\d+)', 1)::int)::BIGINT AS sum_k,
                max(regexp_extract(props, '"k": (\d+)', 1)::int) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q13_json_extract" ->
      """SELECT event_type,
                avg(json_extract(props, '$.k')::int) AS avg_k,
                sum(coalesce(json_extract(props, '$.missing')::int,
                             json_extract(props, '$.k')::int, -1))::BIGINT AS sum_k2
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q14_hourly_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
                count(*) AS n, sum(value) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type""",
    "q15_sanitize" ->
      """SELECT doc_id,
                regexp_replace(source || '<' || lang || '>:' || doc_id,
                               '[<>:"/\\|?*]', '_', 'g') AS fname
         FROM documents ORDER BY doc_id""",
    "q16_filename_chain" ->
      """WITH f AS (
           SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'https://ir.example.com/files/report-' || doc_id || '.pdf'
               WHEN 1 THEN 'https://ir.example.com/files/statement'
               WHEN 2 THEN 'https://ir.example.com/'
               ELSE 'https://cdn.example.org/a/b/deck-' || doc_id || '.xlsx' END AS url,
             CASE doc_id % 3
               WHEN 0 THEN ''
               WHEN 1 THEN 'attachment; filename="quarterly report.pdf"'
               ELSE 'attachment; filename*=UTF-8''en''q4%20report.pdf' END AS cd,
             CASE doc_id % 5
               WHEN 0 THEN 'application/pdf'
               WHEN 1 THEN 'text/html; charset=utf-8'
               WHEN 2 THEN 'application/vnd.openxmlformats-officedocument.spreadsheetml.sheet'
               WHEN 3 THEN 'text/plain'
               ELSE 'application/octet-stream' END AS ct,
             CASE WHEN doc_id % 2 = 0 THEN 'Earnings Report' ELSE '' END AS title,
             CASE WHEN doc_id % 2 = 0 THEN 2020 + doc_id % 5 END AS year,
             CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 4 END AS quarter
           FROM documents),
         g AS (
           SELECT *, regexp_extract(regexp_replace(
               regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
               '/+$', ''), '([^/]*)$', 1) AS seg
           FROM f),
         h AS (
           SELECT *, regexp_extract(seg, '.+(\.[^.]+)$', 1) AS seg_ext,
                  lower(ct) AS ctl
           FROM g),
         i AS (
           SELECT *,
             CASE WHEN seg_ext <> '' THEN seg_ext
                  WHEN contains(ctl, 'pdf') THEN '.pdf'
                  WHEN contains(ctl, 'html') OR contains(ctl, 'htm') THEN '.html'
                  WHEN contains(ctl, 'spreadsheetml') OR contains(ctl, 'excel')
                       OR contains(ctl, 'xlsx') THEN '.xlsx'
                  WHEN contains(ctl, 'zip') THEN '.zip'
                  WHEN contains(ctl, 'msword') OR contains(ctl, 'wordprocessingml')
                       OR contains(ctl, 'docx') THEN '.docx'
                  WHEN contains(ctl, 'plain') OR contains(ctl, 'text/') THEN '.txt'
                  ELSE '.bin' END AS ext,
             nullif(trim(regexp_replace(trim(regexp_extract(cd,
               'filename\*\s*=\s*[^'']+''[^'']+''\s*([^;]+)', 1)), '^"+|"+$', '')), '')
               AS star,
             nullif(trim(regexp_extract(cd,
               'filename\s*=\s*"?([^";]+)"?', 1)), '') AS plain
           FROM h)
         SELECT doc_id,
           regexp_replace(
             CASE WHEN title <> '' AND year IS NOT NULL AND quarter IS NOT NULL
                  THEN title || '_' || year || 'Q' || quarter || ext
                  WHEN coalesce(star, plain) IS NOT NULL THEN coalesce(star, plain)
                  WHEN seg <> '' THEN
                    CASE WHEN seg_ext <> '' THEN seg ELSE seg || ext END
                  ELSE 'download' || ext END,
             '[<>:"/\\|?*]', '_', 'g') AS filename
         FROM i ORDER BY doc_id""",
    "q17_year_quarter" ->
      """SELECT event_id,
                list_max(list_transform(
                  regexp_extract_all(lower(title), '(19|20)\d{2}'),
                  y -> y::int)) AS year,
                list_max(list_transform(
                  regexp_extract_all(lower(title), 'q([1-4])', 1),
                  q -> q::int)) AS quarter
         FROM (SELECT event_id,
                 'Report Q' || ((json_extract(props, '$.k')::int % 4) + 1)
                   || ' FY' || (1990 + json_extract(props, '$.k')::int % 30) AS title
               FROM events)
         ORDER BY event_id""",
    "q18_md5_digest" ->
      """SELECT source, count(DISTINCT md5(text)) AS n_distinct,
                count(*) AS n_docs
         FROM documents GROUP BY source ORDER BY source""",
    "q19_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
                sum(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(lower(trim(text)), '\s+')) END)::BIGINT
                  AS sum_tokens,
                sum(length(text))::BIGINT AS sum_chars,
                sum(list_sum(list_transform(
                  string_split_regex(lower(trim(text)), '\s+'),
                  w -> ceil(length(w) / 4.0)))::bigint)::BIGINT AS sum_bpe
         FROM documents GROUP BY lang ORDER BY lang""",
    "q20_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id FROM (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text FROM documents)
         GROUP BY md5(text) ORDER BY keep_id""",
    "q21_quality" ->
      """WITH q AS (
           SELECT source,
             string_split_regex(lower(trim(text)), '\s+') AS toks,
             length(text) AS n,
             length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS np
           FROM documents),
         r AS (
           SELECT source,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE len(list_filter(toks, t -> t IN
                    ('the','and','of','to','a','in','is','that')))::double / len(toks)
             END AS stop_ratio,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE list_sum(list_transform(toks, w -> length(w)))::double / len(toks)
             END AS mwl,
             CASE WHEN n = 0 THEN 0.0 ELSE np::double / n END AS punct,
             n FROM q)
         SELECT source,
           avg((CASE WHEN n BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END) +
               (CASE WHEN stop_ratio >= 0.01 THEN 0.25 ELSE 0.0 END) +
               (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) +
               (CASE WHEN punct <= 0.1 THEN 0.25 ELSE 0.0 END)) AS avg_quality,
           avg(stop_ratio) AS avg_stop_ratio,
           avg(mwl) AS avg_mwl
         FROM r GROUP BY source ORDER BY source""",
    "q22_lang_id" ->
      """WITH docs2 AS (
           SELECT text FROM documents
           UNION ALL
           SELECT chr(36825) ||
                  repeat(chr(30340)||chr(25968)||chr(25454)||chr(24456)||chr(22909),
                         (doc_id % 3 + 1)::int) ||
                  chr(26159)||chr(19968)||chr(20010)||chr(27979)||chr(35797) AS text
           FROM documents WHERE doc_id < 20
           UNION ALL
           SELECT chr(3652)||chr(3607)||chr(3618) ||
                  repeat(chr(3616)||chr(3634)||chr(3625)||chr(3634)||chr(3652)||chr(3607)||chr(3618),
                         (doc_id % 3 + 1)::int) AS text
           FROM documents WHERE doc_id < 15),
         h AS (
           SELECT string_split_regex(lower(trim(regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+') AS toks
           FROM docs2),
         s AS (
           SELECT
             len(list_filter(toks, t -> t IN ('der','die','und','das','ist','von','mit','den'))) AS h_de,
             len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','that'))) AS h_en,
             len(list_filter(toks, t -> t IN ('el','la','de','que','y','los','en','un'))) AS h_es,
             len(list_filter(toks, t -> t IN ('le','la','les','des','est','une','dans','et'))) AS h_fr,
             len(list_filter(toks, t -> t IN ('า','น','ร','เ','อ','ก','ง','ม'))) AS h_th,
             len(list_filter(toks, t -> t IN ('的','是','在','了','和','有','我','不'))) AS h_zh
           FROM h)
         SELECT CASE
             WHEN h_de + h_en + h_es + h_fr + h_th + h_zh = 0 THEN 'und'
             WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_th AND h_de >= h_zh THEN 'de'
             WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_th AND h_en >= h_zh THEN 'en'
             WHEN h_es >= h_fr AND h_es >= h_th AND h_es >= h_zh THEN 'es'
             WHEN h_fr >= h_th AND h_fr >= h_zh THEN 'fr'
             WHEN h_th >= h_zh THEN 'th'
             ELSE 'zh' END AS detected,
           count(*) AS n
         FROM s GROUP BY detected ORDER BY detected""",
    "q23_cosine_topk" ->
      """SELECT query_id, vec_id, sim, rk FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                  list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS sim,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                             c.vec_id) AS rk
           FROM embeddings c, embeddings q
           WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
         WHERE rk <= 5 ORDER BY query_id, rk""",
    // Sketch-pipeline oracles: the sketch kernels (MinHash, SimHash,
    // RHP buckets, winnowing, IVF assignment) have no DuckDB analog, so
    // Verify materializes their deterministic outputs to
    // spark-warehouse and the oracle independently replays everything
    // downstream — bucket caps, candidate joins, verification metrics,
    // thresholds, ranking.
    "q24_minhash_pairs" ->
      """WITH banded AS (
           SELECT id, band, band_hash FROM (
             SELECT id, band, band_hash,
                    count(*) OVER (PARTITION BY band, band_hash) AS bucket_n
             FROM read_parquet('/root/repo/spark-warehouse/q24_bands/*.parquet'))
           WHERE bucket_n <= 200),
         cand AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM banded a JOIN banded b USING (band, band_hash)
           WHERE a.id < b.id),
         sigs AS (
           SELECT * FROM read_parquet('/root/repo/spark-warehouse/q24_sigs/*.parquet')),
         sims AS (
           SELECT id_a, id_b,
                  len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2]))::DOUBLE
                    / len(sa.sig) AS sim
           FROM cand JOIN sigs sa ON sa.id = cand.id_a
                     JOIN sigs sb ON sb.id = cand.id_b)
         SELECT id_a, id_b, round(sim, 2) AS sim_bucket
         FROM sims WHERE sim >= 0.7 ORDER BY id_a, id_b""",
    "q25_simhash_pairs" ->
      """WITH fps AS (
           SELECT id, fp FROM read_parquet('/root/repo/spark-warehouse/q25_fps/*.parquet')),
         banded AS (
           SELECT id, fp, band, band_hash FROM (
             SELECT id, fp, b.band,
                    (fp >> (b.band * 16)) & 65535 AS band_hash,
                    count(*) OVER (PARTITION BY b.band, (fp >> (b.band * 16)) & 65535)
                      AS bucket_n
             FROM fps, (VALUES (0),(1),(2),(3)) AS b(band))
           WHERE bucket_n <= 200)
         SELECT a.id AS id_a, b.id AS id_b,
                min(bit_count(xor(a.fp, b.fp)))::INTEGER AS hamming
         FROM banded a JOIN banded b USING (band, band_hash)
         WHERE a.id < b.id AND bit_count(xor(a.fp, b.fp)) <= 3
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q26_embedding_pairs" ->
      """WITH banded AS (
           SELECT id, band, band_hash FROM (
             SELECT id, band, band_hash,
                    count(*) OVER (PARTITION BY band, band_hash) AS bucket_n
             FROM read_parquet('/root/repo/spark-warehouse/q26_buckets/*.parquet'))
           WHERE bucket_n <= 200),
         cand AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM banded a JOIN banded b USING (band, band_hash)
           WHERE a.id < b.id),
         sims AS (
           SELECT id_a, id_b,
                  list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS sim
           FROM cand JOIN embeddings ea ON ea.vec_id = cand.id_a
                     JOIN embeddings eb ON eb.vec_id = cand.id_b)
         SELECT id_a, id_b, round(sim, 2) AS sim_bucket
         FROM sims WHERE sim >= 0.4 ORDER BY id_a, id_b""",
    "q27_minhash_dedup" ->
      """WITH banded AS (
           SELECT id, band, band_hash FROM (
             SELECT id, band, band_hash,
                    count(*) OVER (PARTITION BY band, band_hash) AS bucket_n
             FROM read_parquet('/root/repo/spark-warehouse/q27_bands/*.parquet'))
           WHERE bucket_n <= 200),
         cand AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM banded a JOIN banded b USING (band, band_hash)
           WHERE a.id < b.id),
         sigs AS (
           SELECT * FROM read_parquet('/root/repo/spark-warehouse/q27_sigs/*.parquet')),
         dups AS (
           SELECT DISTINCT id_b FROM cand
           JOIN sigs sa ON sa.id = cand.id_a
           JOIN sigs sb ON sb.id = cand.id_b
           WHERE len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2]))::DOUBLE
                   / len(sa.sig) >= 0.7)
         SELECT source, count(*) AS n_docs FROM documents
         WHERE doc_id NOT IN (SELECT id_b FROM dups)
         GROUP BY source ORDER BY source""",
    "q35_multimodal" ->
      """SELECT media_type, count(*) AS n,
                sum(n_bytes)::BIGINT AS total_bytes,
                (sum(((feature[1])::DOUBLE)::DECIMAL(18,6)))::DOUBLE AS f0_sum
         FROM read_parquet('/root/repo/spark-warehouse/q35_features/*.parquet')
         GROUP BY media_type ORDER BY media_type""",
    "q36_lsh_topk" ->
      """WITH scored AS (
           SELECT q.query_id, c.vec_id,
                  list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS sim
           FROM read_parquet('/root/repo/spark-warehouse/q36_cb/*.parquet') c
           JOIN read_parquet('/root/repo/spark-warehouse/q36_qb/*.parquet') q USING (bucket)
           JOIN embeddings ce ON ce.vec_id = c.vec_id
           JOIN embeddings qe ON qe.vec_id = q.query_id),
         ranked AS (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
           FROM scored)
         SELECT query_id, vec_id, round(sim, 4) AS sim, rk::INTEGER AS rk
         FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""",
    "q43_ivf_topk" ->
      """WITH scored AS (
           SELECT p.query_id, a.vec_id,
                  list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS sim
           FROM read_parquet('/root/repo/spark-warehouse/q43_assigned/*.parquet') a
           JOIN read_parquet('/root/repo/spark-warehouse/q43_probes/*.parquet') p USING (list_id)
           JOIN embeddings ce ON ce.vec_id = a.vec_id
           JOIN embeddings qe ON qe.vec_id = p.query_id
           WHERE a.vec_id <> p.query_id),
         ranked AS (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
           FROM scored)
         SELECT query_id, vec_id, round(sim, 4) AS sim, rk::INTEGER AS rk
         FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""",
    "q45_winnow_pairs" ->
      """WITH fps AS (
           SELECT id, fp FROM read_parquet('/root/repo/spark-warehouse/q45_fps/*.parquet')),
         rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
         slim AS (SELECT f.id, f.fp FROM fps f JOIN rare USING (fp))
         SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared_fingerprints
         FROM slim a JOIN slim b USING (fp)
         WHERE a.id < b.id
         GROUP BY 1, 2 HAVING count(*) >= 5
         ORDER BY 1, 2""",
    "q58_supplier_revenue" ->
      """SELECT r_name, count(*) AS n_items,
                sum(round(l_extendedprice * 100)::BIGINT *
                    (100 - round(l_discount * 100)::BIGINT))::BIGINT
                  / 10000.0 AS revenue,
                count(DISTINCT s_suppkey) AS n_suppliers
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q59_incremental_dedup" ->
      """WITH delta AS (
           SELECT doc_id, source FROM documents WHERE doc_id % 5 = 0
           UNION ALL
           SELECT doc_id + 1000000, source FROM documents
           WHERE doc_id % 5 <> 0 AND doc_id % 7 = 1
           UNION ALL
           SELECT doc_id + 3000000, source FROM documents
           WHERE doc_id % 5 = 0 AND doc_id % 9 = 0),
         csigs AS (SELECT * FROM read_parquet('/root/repo/spark-warehouse/q59_csigs/*.parquet')),
         dsigs AS (SELECT * FROM read_parquet('/root/repo/spark-warehouse/q59_dsigs/*.parquet')),
         dbands AS (SELECT * FROM read_parquet('/root/repo/spark-warehouse/q59_dbands/*.parquet')),
         cband AS (
           SELECT id, band, band_hash FROM (
             SELECT id, band, band_hash,
                    count(*) OVER (PARTITION BY band, band_hash) AS n
             FROM read_parquet('/root/repo/spark-warehouse/q59_cbands/*.parquet'))
           WHERE n <= 200),
         cand AS (
           SELECT DISTINCT c.id AS corpus_id, d.id AS delta_id
           FROM cband c JOIN dbands d USING (band, band_hash)),
         dup1 AS (
           SELECT DISTINCT delta_id FROM cand
           JOIN csigs cs ON cs.id = cand.corpus_id
           JOIN dsigs ds ON ds.id = cand.delta_id
           WHERE len(list_filter(list_zip(cs.sig, ds.sig), p -> p[1] = p[2]))::DOUBLE
                   / len(cs.sig) >= 0.7),
         clean AS (
           SELECT id FROM dsigs
           WHERE id NOT IN (SELECT delta_id FROM dup1)),
         dband2 AS (
           SELECT id, band, band_hash FROM (
             SELECT id, band, band_hash,
                    count(*) OVER (PARTITION BY band, band_hash) AS n
             FROM dbands WHERE id IN (SELECT id FROM clean))
           WHERE n <= 200),
         cand2 AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM dband2 a JOIN dband2 b USING (band, band_hash)
           WHERE a.id < b.id),
         dup2 AS (
           SELECT DISTINCT id_b FROM cand2
           JOIN dsigs sa ON sa.id = cand2.id_a
           JOIN dsigs sb ON sb.id = cand2.id_b
           WHERE len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2]))::DOUBLE
                   / len(sa.sig) >= 0.7),
         surv AS (
           SELECT id FROM clean WHERE id NOT IN (SELECT id_b FROM dup2))
         SELECT source, count(*) AS n_docs
         FROM delta JOIN surv ON delta.doc_id = surv.id
         GROUP BY source ORDER BY source""",
    "q60_ngram_jaccard" ->
      """WITH cand AS (
           SELECT id_a, id_b
           FROM read_parquet('/root/repo/spark-warehouse/q60_cands/*.parquet')),
         grams AS (
           SELECT id, gram
           FROM read_parquet('/root/repo/spark-warehouse/q60_grams/*.parquet')),
         sizes AS (SELECT id, count(*) AS n FROM grams GROUP BY id),
         inter AS (
           SELECT c.id_a, c.id_b, count(*) AS i
           FROM cand c
           JOIN grams ga ON ga.id = c.id_a
           JOIN grams gb ON gb.id = c.id_b AND gb.gram = ga.gram
           GROUP BY c.id_a, c.id_b),
         jac AS (
           SELECT c.id_a, c.id_b,
                  coalesce(i.i, 0)::DOUBLE
                    / (sa.n + sb.n - coalesce(i.i, 0)) AS j
           FROM cand c
           JOIN sizes sa ON sa.id = c.id_a
           JOIN sizes sb ON sb.id = c.id_b
           LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b)
         SELECT id_a, id_b, round(j, 2) AS jac_bucket
         FROM jac WHERE j >= 0.4 ORDER BY id_a, id_b""",
    "q61_stratified_sample" ->
      """SELECT source, count(*) AS n_docs,
                sum(CASE WHEN substring(md5(text), 1, 4) <
                      CASE source WHEN 'src0' THEN 'c000'
                                  WHEN 'src1' THEN '8000'
                                  WHEN 'src2' THEN '4000'
                                  ELSE '199a' END
                    THEN 1 ELSE 0 END)::BIGINT AS n_sampled
         FROM documents GROUP BY source ORDER BY source""",
    "q62_bloom_prune" ->
      """SELECT l_returnflag, count(*) AS n_items,
                sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS sum_cents
         FROM lineitem
         WHERE l_orderkey IN (
           SELECT o_orderkey FROM orders
           WHERE o_orderpriority = '1-URGENT' AND o_custkey < 100)
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q63_approx_distinct" ->
      """SELECT source, count(DISTINCT text)::BIGINT AS n_exact,
                TRUE AS approx_ok
         FROM documents GROUP BY source ORDER BY source""",
    "q64_group_sample" ->
      """SELECT source, rk, doc_id FROM (
           SELECT source, doc_id,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY md5(text), doc_id) AS rk
           FROM documents)
         WHERE rk <= 3 ORDER BY source, rk""",
    "q65_bloom_decontam" ->
      """SELECT source, count(*) AS n_docs
         FROM documents
         WHERE text NOT IN (SELECT text FROM documents WHERE doc_id % 50 = 0)
         GROUP BY source ORDER BY source""",
    "q66_corpus_shuffle" ->
      """SELECT doc_id, substring(md5(text || 'seed42'), 1, 8) AS h
         FROM documents ORDER BY h, doc_id LIMIT 20""",
    "q67_quantile_bins" ->
      """WITH qs AS (
           SELECT quantile_cont(n_chars, 0.25) AS q1,
                  quantile_cont(n_chars, 0.5) AS q2,
                  quantile_cont(n_chars, 0.75) AS q3
           FROM documents)
         SELECT CASE WHEN n_chars <= q1 THEN 0
                     WHEN n_chars <= q2 THEN 1
                     WHEN n_chars <= q3 THEN 2 ELSE 3 END AS bin,
                count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
         FROM documents, qs
         GROUP BY 1 ORDER BY bin""",
    "q68_hll_union" ->
      """SELECT source, count(DISTINCT text)::BIGINT AS n_exact,
                TRUE AS union_ok
         FROM documents GROUP BY source ORDER BY source""",
    "q69_dup_clusters" ->
      """WITH RECURSIVE sym AS (
           SELECT id_a AS u, id_b AS v
           FROM read_parquet('/root/repo/spark-warehouse/q69_edges/*.parquet')
           UNION
           SELECT id_b, id_a
           FROM read_parquet('/root/repo/spark-warehouse/q69_edges/*.parquet')),
         nodes AS (SELECT DISTINCT u AS id FROM sym),
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT sym.v, walk.comp FROM walk JOIN sym ON sym.u = walk.id),
         labels AS (SELECT id, min(comp) AS component FROM walk GROUP BY id)
         SELECT component, count(*) AS n_docs,
                array_to_string(list_sort(array_agg(id)), ',') AS members
         FROM labels GROUP BY component ORDER BY component""",
    "q70_cluster_dedup" ->
      """WITH RECURSIVE sym AS (
           SELECT id_a AS u, id_b AS v
           FROM read_parquet('/root/repo/spark-warehouse/q70_edges/*.parquet')
           UNION
           SELECT id_b, id_a
           FROM read_parquet('/root/repo/spark-warehouse/q70_edges/*.parquet')),
         nodes AS (SELECT DISTINCT u AS id FROM sym),
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT sym.v, walk.comp FROM walk JOIN sym ON sym.u = walk.id),
         labels AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
         dropped AS (SELECT id FROM labels WHERE id <> component)
         SELECT source, count(*) AS n_docs
         FROM documents
         WHERE doc_id NOT IN (SELECT id FROM dropped)
         GROUP BY source ORDER BY source""",
    "q71_chunk_windows" ->
      """WITH tok AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents
           WHERE doc_id < 40 AND length(trim(text)) > 0),
         starts AS (
           SELECT doc_id, toks, len(toks) AS n,
                  unnest(generate_series(0, len(toks) - 1, 16)) AS st
           FROM tok)
         SELECT doc_id, (st // 16)::INTEGER AS chunk_idx,
                array_to_string(list_slice(toks, st + 1, st + 32), ' ')
                  AS chunk_text,
                least(32, n - st)::INTEGER AS n_tokens
         FROM starts
         WHERE st = 0 OR st + 32 - 16 < n
         ORDER BY doc_id, chunk_idx""",
    "q72_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
         FROM orders
         GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q73_clean_corpus" ->
      """WITH scored AS (
           SELECT doc_id, source, text,
             string_split_regex(lower(trim(text)), '\s+') AS toks,
             length(text) AS n,
             length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS np
           FROM documents),
         gated AS (
           SELECT doc_id, source, text FROM scored
           WHERE (CASE WHEN n BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END) +
                 (CASE WHEN len(toks) > 0 AND
                    len(list_filter(toks, t -> t IN
                      ('the','and','of','to','a','in','is','that')))::double
                      / len(toks) >= 0.01 THEN 0.25 ELSE 0.0 END) +
                 (CASE WHEN len(toks) > 0 AND
                    list_sum(list_transform(toks, w -> length(w)))::double
                      / len(toks) BETWEEN 2.0 AND 12.0
                    THEN 0.25 ELSE 0.0 END) +
                 (CASE WHEN n > 0 AND np::double / n <= 0.1
                    THEN 0.25 ELSE 0.0 END) >= 0.5),
         red AS (
           SELECT doc_id, source,
             regexp_replace(regexp_replace(regexp_replace(text,
               '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{3}-\d{4}\b', '<PHONE>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
               AS rtext
           FROM gated),
         ded AS (
           SELECT doc_id, source, rtext,
             row_number() OVER (PARTITION BY rtext ORDER BY doc_id) AS rn
           FROM red),
         bench AS (
           SELECT DISTINCT
             regexp_replace(regexp_replace(regexp_replace(text,
               '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{3}-\d{4}\b', '<PHONE>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
               AS btext
           FROM documents WHERE doc_id % 50 = 0)
         SELECT source, count(*) AS n_docs,
                sum(length(rtext))::BIGINT AS sum_chars
         FROM ded
         WHERE rn = 1 AND rtext NOT IN (SELECT btext FROM bench)
         GROUP BY source ORDER BY source""",
    "q74_profile" ->
      """SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
                sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                  AS n_null,
                count(DISTINCT o_custkey) AS n_distinct, TRUE AS approx_ok,
                coalesce(min(o_custkey)::VARCHAR, '') AS min_value,
                coalesce(max(o_custkey)::VARCHAR, '') AS max_value
         FROM orders
         UNION ALL
         SELECT 'o_orderpriority', count(*),
                sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT,
                count(DISTINCT o_orderpriority), TRUE,
                coalesce(min(o_orderpriority), ''),
                coalesce(max(o_orderpriority), '')
         FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*),
                sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
                count(DISTINCT o_orderstatus), TRUE,
                coalesce(min(o_orderstatus), ''),
                coalesce(max(o_orderstatus), '')
         FROM orders
         ORDER BY col_name""",
    "q75_compression" ->
      """SELECT source, count(*) AS n_docs,
                TRUE AS ratio_bounded, TRUE AS rep_compresses_more
         FROM documents WHERE length(text) >= 50
         GROUP BY source ORDER BY source""",
    "q76_ngram_decontam" ->
      """WITH ctoks AS (
           SELECT doc_id, source,
                  string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         cgrams AS (
           SELECT doc_id,
                  array_to_string(list_slice(toks, st + 1, st + 8), ' ') AS g
           FROM (SELECT doc_id, toks,
                        unnest(generate_series(0,
                          greatest(len(toks) - 8, 0), 1)) AS st
                 FROM ctoks)),
         bgrams AS (
           SELECT DISTINCT
                  array_to_string(list_slice(toks, st + 1, st + 8), ' ') AS g
           FROM (SELECT toks,
                        unnest(generate_series(0,
                          greatest(len(toks) - 8, 0), 1)) AS st
                 FROM (SELECT string_split_regex(lower(trim(text)), '\s+')
                         AS toks
                       FROM documents WHERE doc_id % 37 = 0))),
         contaminated AS (
           SELECT DISTINCT c.doc_id
           FROM cgrams c JOIN bgrams b ON c.g = b.g)
         SELECT source, count(*) AS n_docs
         FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
         GROUP BY source ORDER BY source""",
    "q77_token_budget" ->
      """WITH keyed AS (
           SELECT source, doc_id, doc_id % 4 AS stream,
                  md5(text) AS ord,
                  (CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                   END)::BIGINT AS n_tokens
           FROM documents),
         cum AS (
           SELECT source, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY source, stream
                                      ORDER BY ord, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS c
           FROM keyed)
         SELECT source, count(*) AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens
         FROM cum WHERE c <= 1000
         GROUP BY source ORDER BY source""",
    "q78_asof_forward" ->
      """WITH s AS (SELECT user_id, -epoch_us(ts) AS nts,
                           event_id AS next_signup
                    FROM events WHERE event_type = 'signup'),
              o AS (SELECT user_id, -epoch_us(ts) AS nts, event_id
                    FROM events WHERE event_type <> 'signup')
         SELECT o.event_id, s.next_signup
         FROM o ASOF LEFT JOIN s
           ON o.user_id = s.user_id AND o.nts >= s.nts
         ORDER BY o.event_id""",
    "q79_snapshot_diff" ->
      """WITH b AS (
           SELECT doc_id, lang || ' ' || text AS payload
           FROM documents WHERE doc_id % 10 <> 0),
         a AS (
           SELECT doc_id,
                  lang || ' ' || (CASE WHEN doc_id % 5 = 0
                                       THEN text || ' v2' ELSE text END)
                    AS payload
           FROM documents WHERE doc_id % 7 <> 0)
         SELECT status, count(*) AS n FROM (
           SELECT CASE WHEN b.doc_id IS NULL THEN 'added'
                       WHEN a.doc_id IS NULL THEN 'removed'
                       WHEN b.payload = a.payload THEN 'unchanged'
                       ELSE 'changed' END AS status
           FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id)
         GROUP BY status ORDER BY status""",
    "q80_pagerank" ->
      """WITH e AS (
           SELECT DISTINCT doc_id AS src, (doc_id * 7919 + k) % 500 AS dst
           FROM documents, (VALUES (0), (1), (2)) AS ks(k)),
         nodes AS (
           SELECT src AS node FROM e UNION SELECT dst FROM e),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes),
         c1 AS (SELECT e.dst AS node, sum(r0.rank / deg.deg) AS m
                FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src
                GROUP BY e.dst),
         r1 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c1.m, 0) AS rank
                FROM nodes n LEFT JOIN c1 ON c1.node = n.node),
         c2 AS (SELECT e.dst AS node, sum(r1.rank / deg.deg) AS m
                FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src
                GROUP BY e.dst),
         r2 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c2.m, 0) AS rank
                FROM nodes n LEFT JOIN c2 ON c2.node = n.node),
         c3 AS (SELECT e.dst AS node, sum(r2.rank / deg.deg) AS m
                FROM e JOIN deg USING (src) JOIN r2 ON r2.node = e.src
                GROUP BY e.dst),
         r3 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c3.m, 0) AS rank
                FROM nodes n LEFT JOIN c3 ON c3.node = n.node)
         SELECT node, round(rank, 3) AS rank_3dp
         FROM r3 WHERE node < 40 ORDER BY node""",
    "q81_set_ops" ->
      """WITH h1 AS (
           SELECT o_custkey FROM orders
           WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-06-30'),
         h2 AS (
           SELECT o_custkey FROM orders
           WHERE o_orderdate BETWEEN '1995-07-01' AND '1995-12-31')
         SELECT
           (SELECT count(*) FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2))
             AS n_both,
           (SELECT count(*) FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2))
             AS n_only_h1""",
    "q82_sql_surface" ->
      """WITH freq AS (
           SELECT o_custkey, count(*) AS n_orders
           FROM orders GROUP BY o_custkey)
         SELECT c_mktsegment, count(*) AS n_cust,
                max(n_orders) AS max_orders
         FROM customer c JOIN freq f ON f.o_custkey = c.c_custkey
         WHERE EXISTS (
           SELECT 1 FROM freq b
           WHERE b.o_custkey = c.c_custkey AND b.n_orders >= 10)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q83_ivf_kmeans" ->
      """WITH scored AS (
           SELECT p.query_id, a.vec_id,
                  list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS sim
           FROM read_parquet('/root/repo/spark-warehouse/q83_assigned/*.parquet') a
           JOIN read_parquet('/root/repo/spark-warehouse/q83_probes/*.parquet') p USING (list_id)
           JOIN embeddings ce ON ce.vec_id = a.vec_id
           JOIN embeddings qe ON qe.vec_id = p.query_id
           WHERE a.vec_id <> p.query_id),
         ranked AS (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
           FROM scored)
         SELECT query_id, vec_id, round(sim, 4) AS sim, rk::INTEGER AS rk
         FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""",
    "q84_bpe_pairs" ->
      """WITH words AS (
           SELECT w, count(*) AS wc FROM (
             SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             FROM documents)
           WHERE length(w) >= 2 GROUP BY w),
         pos AS (
           SELECT w, wc, unnest(range(1, length(w)::BIGINT)) AS g FROM words)
         SELECT substring(w, g::INT, 2) AS pair, sum(wc)::BIGINT AS cnt
         FROM pos GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 30""",
    "q85_semantic_dedup" ->
      """WITH assigned AS (
           SELECT vec_id, list_id FROM (
             SELECT vec_id, list_id,
                    count(*) OVER (PARTITION BY list_id) AS list_n
             FROM read_parquet('/root/repo/spark-warehouse/q85_assigned/*.parquet'))
           WHERE list_n <= 200),
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM assigned a JOIN assigned b USING (list_id)
           WHERE a.vec_id < b.vec_id),
         sims AS (
           SELECT id_a, id_b,
                  list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS sim
           FROM cand JOIN embeddings ea ON ea.vec_id = cand.id_a
                     JOIN embeddings eb ON eb.vec_id = cand.id_b)
         SELECT id_a, id_b, round(sim, 2) AS sim_bucket
         FROM sims WHERE sim >= 0.4 ORDER BY id_a, id_b""",
    "q86_imi_dedup" ->
      """WITH assigned AS (
           SELECT vec_id, list_id FROM (
             SELECT vec_id, list_id,
                    count(*) OVER (PARTITION BY list_id) AS list_n
             FROM read_parquet('/root/repo/spark-warehouse/q86_assigned/*.parquet'))
           WHERE list_n <= 200),
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM assigned a JOIN assigned b USING (list_id)
           WHERE a.vec_id < b.vec_id),
         sims AS (
           SELECT id_a, id_b,
                  list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS sim
           FROM cand JOIN embeddings ea ON ea.vec_id = cand.id_a
                     JOIN embeddings eb ON eb.vec_id = cand.id_b)
         SELECT id_a, id_b, round(sim, 2) AS sim_bucket
         FROM sims WHERE sim >= 0.4 ORDER BY id_a, id_b""",
    // the PQ encode kernel (L2 k-means codeword assignment) has no SQL
    // analog; the dumped codes + codebook rows let the oracle rebuild
    // every codeword reconstruction and replay the ADC scoring exactly
    "q87_pq_adc_topk" ->
      """WITH codes AS (
           SELECT vec_id, sub, code
           FROM read_parquet('/root/repo/spark-warehouse/q87_codes/*.parquet')),
         cb AS (
           SELECT sub, code, sdim, w
           FROM read_parquet('/root/repo/spark-warehouse/q87_codebooks/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         recon AS (
           SELECT c.vec_id, cb.sub * 8 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         scored AS (
           SELECT q.query_id, r.vec_id,
                  round(sum(r.w * q.embedding[r.dim + 1]::DOUBLE), 6) AS sim
           FROM recon r CROSS JOIN q
           WHERE r.vec_id <> q.query_id
           GROUP BY q.query_id, r.vec_id)
         SELECT query_id, vec_id, sim, rk FROM (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL)
         WHERE rk <= 5 ORDER BY query_id, rk""",
    "q88_ivfadc_topk" ->
      """WITH assigned AS (
           SELECT vec_id, list_id
           FROM read_parquet('/root/repo/spark-warehouse/q88_assigned/*.parquet')),
         probes AS (
           SELECT query_id, list_id
           FROM read_parquet('/root/repo/spark-warehouse/q88_probes/*.parquet')),
         codes AS (
           SELECT vec_id, sub, code
           FROM read_parquet('/root/repo/spark-warehouse/q88_codes/*.parquet')),
         cb AS (
           SELECT sub, code, sdim, w
           FROM read_parquet('/root/repo/spark-warehouse/q88_codebooks/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         cand AS (
           SELECT DISTINCT p.query_id, a.vec_id
           FROM probes p JOIN assigned a USING (list_id)
           WHERE a.vec_id <> p.query_id),
         recon AS (
           SELECT c.vec_id, cb.sub * 8 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         scored AS (
           SELECT cand.query_id, cand.vec_id,
                  round(sum(r.w * q.embedding[r.dim + 1]::DOUBLE), 6) AS sim
           FROM cand JOIN recon r ON r.vec_id = cand.vec_id
                     JOIN q ON q.query_id = cand.query_id
           GROUP BY cand.query_id, cand.vec_id)
         SELECT query_id, vec_id, sim, rk FROM (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL)
         WHERE rk <= 5 ORDER BY query_id, rk""",
    "q89_ann_recall" ->
      """WITH assigned AS (
           SELECT vec_id, list_id
           FROM read_parquet('/root/repo/spark-warehouse/q89_assigned/*.parquet')),
         probes AS (
           SELECT query_id, list_id
           FROM read_parquet('/root/repo/spark-warehouse/q89_probes/*.parquet')),
         codes AS (
           SELECT vec_id, sub, code
           FROM read_parquet('/root/repo/spark-warehouse/q89_codes/*.parquet')),
         cb AS (
           SELECT sub, code, sdim, w
           FROM read_parquet('/root/repo/spark-warehouse/q89_codebooks/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         cand AS (
           SELECT DISTINCT p.query_id, a.vec_id
           FROM probes p JOIN assigned a USING (list_id)
           WHERE a.vec_id <> p.query_id),
         recon AS (
           SELECT c.vec_id, cb.sub * 4 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         scored AS (
           SELECT cand.query_id, cand.vec_id,
                  round(sum(r.w * q.embedding[r.dim + 1]::DOUBLE), 6) AS sim
           FROM cand JOIN recon r ON r.vec_id = cand.vec_id
                     JOIN q ON q.query_id = cand.query_id
           GROUP BY cand.query_id, cand.vec_id),
         approx AS (
           SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, vec_id) AS rk
             FROM scored WHERE sim IS NOT NULL)
           WHERE rk <= 5),
         exact AS (
           SELECT query_id, vec_id, sim FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                    list_inner_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS sim,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_inner_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                               c.vec_id) AS rk
             FROM embeddings c, embeddings q
             WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
           WHERE rk <= 5),
         se AS (
           SELECT query_id, sum(sim) AS se FROM exact GROUP BY query_id),
         sa AS (
           SELECT a.query_id,
                  sum(list_inner_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[])) AS sa
           FROM approx a JOIN embeddings c ON c.vec_id = a.vec_id
                         JOIN q ON q.query_id = a.query_id
           GROUP BY a.query_id),
         h AS (
           SELECT e.query_id, count(a.vec_id) AS n_hits
           FROM exact e LEFT JOIN approx a
             ON a.query_id = e.query_id AND a.vec_id = e.vec_id
           GROUP BY e.query_id)
         SELECT se.query_id, h.n_hits, h.n_hits / 5.0 AS recall,
                round(coalesce(sa.sa, 0) / se.se, 4) AS score_ratio,
                round(coalesce(sa.sa, 0) / se.se, 4) >= 0.5 AS recall_ok
         FROM se JOIN h ON h.query_id = se.query_id
                 LEFT JOIN sa ON sa.query_id = se.query_id
         ORDER BY se.query_id""",
    "q90_imi_adc_topk" ->
      """WITH assigned AS (
           SELECT vec_id, list_id
           FROM read_parquet('/root/repo/spark-warehouse/q90_assigned/*.parquet')),
         probes AS (
           SELECT query_id, list_id
           FROM read_parquet('/root/repo/spark-warehouse/q90_probes/*.parquet')),
         codes AS (
           SELECT vec_id, sub, code
           FROM read_parquet('/root/repo/spark-warehouse/q90_codes/*.parquet')),
         cb AS (
           SELECT sub, code, sdim, w
           FROM read_parquet('/root/repo/spark-warehouse/q90_codebooks/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         cand AS (
           SELECT DISTINCT p.query_id, a.vec_id
           FROM probes p JOIN assigned a USING (list_id)
           WHERE a.vec_id <> p.query_id),
         recon AS (
           SELECT c.vec_id, cb.sub * 8 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         scored AS (
           SELECT cand.query_id, cand.vec_id,
                  round(sum(r.w * q.embedding[r.dim + 1]::DOUBLE), 6) AS sim
           FROM cand JOIN recon r ON r.vec_id = cand.vec_id
                     JOIN q ON q.query_id = cand.query_id
           GROUP BY cand.query_id, cand.vec_id)
         SELECT query_id, vec_id, sim, rk FROM (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL)
         WHERE rk <= 5 ORDER BY query_id, rk""",
    "q91_residual_adc" ->
      """WITH assigned AS (
           SELECT vec_id, list_id
           FROM read_parquet('/root/repo/spark-warehouse/q91_assigned/*.parquet')),
         probes AS (
           SELECT query_id, list_id
           FROM read_parquet('/root/repo/spark-warehouse/q91_probes/*.parquet')),
         codes AS (
           SELECT vec_id, sub, code
           FROM read_parquet('/root/repo/spark-warehouse/q91_codes/*.parquet')),
         cb AS (
           SELECT sub, code, sdim, w
           FROM read_parquet('/root/repo/spark-warehouse/q91_codebooks/*.parquet')),
         cents AS (
           SELECT list_id, sdim, w
           FROM read_parquet('/root/repo/spark-warehouse/q91_centroids/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         cand AS (
           SELECT DISTINCT p.query_id, a.vec_id, a.list_id
           FROM probes p JOIN assigned a USING (list_id)
           WHERE a.vec_id <> p.query_id),
         cdot AS (
           SELECT cand.query_id, cand.vec_id,
                  sum(ct.w * q.embedding[ct.sdim + 1]::DOUBLE) AS cd
           FROM cand JOIN cents ct ON ct.list_id = cand.list_id
                     JOIN q ON q.query_id = cand.query_id
           GROUP BY cand.query_id, cand.vec_id),
         recon AS (
           SELECT c.vec_id, cb.sub * 8 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         rsum AS (
           SELECT cand.query_id, cand.vec_id,
                  sum(r.w * q.embedding[r.dim + 1]::DOUBLE) AS rs
           FROM cand JOIN recon r ON r.vec_id = cand.vec_id
                     JOIN q ON q.query_id = cand.query_id
           GROUP BY cand.query_id, cand.vec_id),
         scored AS (
           SELECT c.query_id, c.vec_id, round(c.cd + r.rs, 6) AS sim
           FROM cdot c JOIN rsum r
             ON r.query_id = c.query_id AND r.vec_id = c.vec_id)
         SELECT query_id, vec_id, sim, rk FROM (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL)
         WHERE rk <= 5 ORDER BY query_id, rk""",
    "q92_sq8_topk" ->
      """WITH codes AS (
           SELECT vec_id, dim, code
           FROM read_parquet('/root/repo/spark-warehouse/q92_codes/*.parquet')),
         b AS (
           SELECT dim, mn, sc
           FROM read_parquet('/root/repo/spark-warehouse/q92_bounds/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         deq AS (
           SELECT c.vec_id, c.dim, b.mn + b.sc * c.code AS w
           FROM codes c JOIN b ON b.dim = c.dim),
         scored AS (
           SELECT q.query_id, d.vec_id,
                  round(sum(q.embedding[d.dim + 1]::DOUBLE * d.w), 6) AS sim
           FROM deq d CROSS JOIN q
           WHERE d.vec_id <> q.query_id
           GROUP BY q.query_id, d.vec_id)
         SELECT query_id, vec_id, sim, rk FROM (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL)
         WHERE rk <= 5 ORDER BY query_id, rk""",
    "q93_ann_index" ->
      """WITH idx AS (
           SELECT vec_id, codes, list_id::INT AS list_id
           FROM read_parquet('/root/repo/spark-warehouse/q93_index/list_id=*/*.parquet', hive_partitioning=true)),
         cb AS (
           SELECT sub, code, sdim, w::DOUBLE AS w
           FROM read_parquet('/root/repo/spark-warehouse/q93_index/_models/codebooks/*.parquet')),
         probes AS (
           SELECT query_id, list_id
           FROM read_parquet('/root/repo/spark-warehouse/q93_probes/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         codes AS (
           SELECT vec_id, s.i - 1 AS sub, codes[s.i] AS code
           FROM idx, generate_series(1, 8) s(i)),
         cand AS (
           SELECT DISTINCT p.query_id, a.vec_id
           FROM probes p JOIN idx a USING (list_id)
           WHERE a.vec_id <> p.query_id),
         recon AS (
           SELECT c.vec_id, cb.sub * 8 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         scored AS (
           SELECT cand.query_id, cand.vec_id,
                  round(sum(r.w * q.embedding[r.dim + 1]::DOUBLE), 6) AS sim
           FROM cand JOIN recon r ON r.vec_id = cand.vec_id
                     JOIN q ON q.query_id = cand.query_id
           GROUP BY cand.query_id, cand.vec_id)
         SELECT query_id, vec_id, sim, rk FROM (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL)
         WHERE rk <= 5 ORDER BY query_id, rk""",
    // OPQ: the dumped d×d rotation lets the oracle rotate the raw
    // query vectors itself — double-accumulated sums truncated to
    // REAL reproduce the mat_vec kernel's float32 elements — then the
    // scoring replay is exactly q87's codes ⋈ codebooks shape in the
    // rotated space. Encode (L2 codeword assignment) stays kernel-only,
    // as in every PQ-family oracle.
    "q94_opq_topk" ->
      """WITH codes AS (
           SELECT vec_id, sub, code
           FROM read_parquet('/root/repo/spark-warehouse/q94_codes/*.parquet')),
         cb AS (
           SELECT sub, code, sdim, w
           FROM read_parquet('/root/repo/spark-warehouse/q94_codebooks/*.parquet')),
         rot AS (
           SELECT i, j, w
           FROM read_parquet('/root/repo/spark-warehouse/q94_rot/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         rotq AS (
           SELECT q.query_id, r.i AS dim,
                  CAST(sum(r.w * q.embedding[r.j + 1]::DOUBLE) AS REAL) AS v
           FROM rot r CROSS JOIN q GROUP BY q.query_id, r.i),
         recon AS (
           SELECT c.vec_id, cb.sub * 8 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         scored AS (
           SELECT rq.query_id, r.vec_id,
                  round(sum(r.w * rq.v::DOUBLE), 6) AS sim
           FROM recon r JOIN rotq rq ON rq.dim = r.dim
           WHERE r.vec_id <> rq.query_id
           GROUP BY rq.query_id, r.vec_id)
         SELECT query_id, vec_id, sim, rk FROM (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL)
         WHERE rk <= 5 ORDER BY query_id, rk""",
    // duplicated spans: fully relational — tokenize, hash every word
    // 8-gram with its start position, keep grams in >= 2 distinct
    // docs, union covered positions per doc
    "q95_dup_spans" ->
      """WITH base AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         sized AS (
           SELECT doc_id, l, len(l) AS nt FROM base WHERE len(l) >= 8),
         posn AS (
           SELECT doc_id, nt, l,
                  unnest(generate_series(1, nt - 7)) AS i
           FROM sized),
         occ AS (
           SELECT doc_id, nt, i - 1 AS pos,
                  substring(md5(array_to_string(l[i:i+7], ' ')), 1, 16) AS gh
           FROM posn),
         dup AS (
           SELECT gh FROM occ GROUP BY gh
           HAVING count(DISTINCT doc_id) >= 2),
         dupocc AS (
           SELECT o.doc_id, o.nt, o.pos FROM occ o JOIN dup USING (gh)),
         cov AS (
           SELECT doc_id, nt, pos,
                  unnest(generate_series(pos, pos + 7)) AS p
           FROM dupocc)
         SELECT doc_id, any_value(nt)::INTEGER AS n_tokens,
                count(DISTINCT pos)::BIGINT AS dup_grams,
                count(DISTINCT p)::BIGINT AS dup_tokens,
                round(count(DISTINCT p)::DOUBLE / any_value(nt), 4) AS dup_frac
         FROM cov GROUP BY doc_id ORDER BY doc_id""",
    "q96_semantic_clusters" ->
      """WITH RECURSIVE sym AS (
           SELECT id_a AS u, id_b AS v
           FROM read_parquet('/root/repo/spark-warehouse/q96_edges/*.parquet')
           UNION
           SELECT id_b, id_a
           FROM read_parquet('/root/repo/spark-warehouse/q96_edges/*.parquet')),
         nodes AS (SELECT DISTINCT u AS id FROM sym),
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT sym.v, walk.comp FROM walk JOIN sym ON sym.u = walk.id),
         labels AS (SELECT id, min(comp) AS component FROM walk GROUP BY id)
         SELECT component, count(*) AS n_vecs,
                array_to_string(list_sort(array_agg(id)), ',') AS members
         FROM labels GROUP BY component ORDER BY component""",
    // quality model: scoring replays exactly from the dumped weight
    // table — distinct token md5-prefix features, left join weights,
    // sigmoid(bias + sum). The 'bias' key can't collide (not hex).
    "q97_quality_model" ->
      """WITH w AS (
           SELECT fh, w
           FROM read_parquet('/root/repo/spark-warehouse/q97_weights/*.parquet')),
         b AS (SELECT w AS bias FROM w WHERE fh = 'bias'),
         toks AS (
           SELECT doc_id,
                  unnest(list_distinct(
                    string_split_regex(lower(trim(text)), '\s+'))) AS t
           FROM documents),
         fh AS (
           SELECT DISTINCT doc_id, substring(md5(t), 1, 4) AS fh FROM toks),
         s AS (
           SELECT f.doc_id, sum(coalesce(w.w, 0)) AS s
           FROM fh f LEFT JOIN w ON w.fh = f.fh
           GROUP BY f.doc_id),
         p AS (
           SELECT d.doc_id,
                  1.0 / (1.0 + exp(-(coalesce(s.s, 0) +
                    (SELECT bias FROM b)))) AS prob
           FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id)
         SELECT doc_id, round(prob, 4) AS prob,
                (prob >= 0.5)::INTEGER AS pred
         FROM p ORDER BY doc_id""",
    // quality-weighted sampling: q21's heuristic replica supplies the
    // score; the uniform draw is ('0x' || md5-prefix)::INT / 65536,
    // matching Spark's conv(..., 16, 10). score^2 and u are exact
    // binary fractions, so the keep predicate has no float ambiguity.
    "q98_quality_sample" ->
      """WITH q AS (
           SELECT source, text,
             string_split_regex(lower(trim(text)), '\s+') AS toks,
             length(text) AS n,
             length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS np
           FROM documents),
         r AS (
           SELECT source, text,
             (CASE WHEN n BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE len(list_filter(toks, t -> t IN
                    ('the','and','of','to','a','in','is','that')))::double / len(toks)
              END) >= 0.01 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE list_sum(list_transform(toks, w -> length(w)))::double / len(toks)
              END) BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN n = 0 THEN 0.0 ELSE np::double / n END) <= 0.1
              THEN 0.25 ELSE 0.0 END) AS qs
           FROM q),
         k AS (
           SELECT source, qs,
                  (('0x' || substring(md5(text), 1, 4))::INTEGER / 65536.0)
                    < pow(qs, 2) AS keep
           FROM r)
         SELECT source, count(*) AS n_docs,
                sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
                round(avg(qs), 4) AS avg_quality
         FROM k GROUP BY source ORDER BY source""",
    // bigram-LM perplexity: replayed entirely from the dumped count
    // tables; V = unigram row count, smoothing k = 0.5
    "q99_lm_perplexity" ->
      """WITH uni AS (
           SELECT w, c
           FROM read_parquet('/root/repo/spark-warehouse/q99_unigrams/*.parquet')),
         bi AS (
           SELECT w1, w2, c
           FROM read_parquet('/root/repo/spark-warehouse/q99_bigrams/*.parquet')),
         v AS (SELECT count(*)::DOUBLE AS v FROM uni),
         toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         pairs AS (
           SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
           FROM (SELECT doc_id, l,
                        unnest(generate_series(1, len(l) - 1)) AS i
                 FROM toks WHERE len(l) >= 2)),
         nll AS (
           SELECT p.doc_id,
                  -ln((coalesce(bi.c, 0) + 0.5) /
                      (coalesce(uni.c, 0) + 0.5 * (SELECT v FROM v))) AS nll
           FROM pairs p
           LEFT JOIN bi ON bi.w1 = p.w1 AND bi.w2 = p.w2
           LEFT JOIN uni ON uni.w = p.w1)
         SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                round(avg(nll), 4) AS avg_nll
         FROM nll GROUP BY doc_id ORDER BY doc_id""",
    "q55_pii_redact" ->
      """WITH withpii AS (
           SELECT doc_id,
                  'user' || doc_id::VARCHAR || '@example.com says: ' || text ||
                  ' call 555-' || lpad(((doc_id * 7919) % 10000)::VARCHAR, 4, '0') ||
                  ' or visit 10.' || (doc_id % 256)::VARCHAR || '.0.1' AS text
           FROM documents WHERE doc_id < 50),
         red AS (
           SELECT doc_id, text,
                  regexp_replace(regexp_replace(regexp_replace(text,
                    '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                    '\b\d{3}-\d{4}\b', '<PHONE>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS r
           FROM withpii)
         SELECT doc_id,
                len(regexp_extract_all(text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::INTEGER AS n_emails,
                len(regexp_extract_all(text, '\b\d{3}-\d{4}\b'))::INTEGER AS n_phones,
                len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::INTEGER AS n_ips,
                length(text)::INTEGER AS len_before,
                length(r)::INTEGER AS len_after,
                substring(r, 1, 30) AS head
         FROM red ORDER BY doc_id""",
    "q56_repetition" ->
      """WITH base AS (
           SELECT source, string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         m AS (
           SELECT source, l,
                  list_transform(generate_series(1, greatest(len(l) - 1, 1)),
                    i -> CASE WHEN i < len(l) THEN l[i] || ' ' || l[i+1]
                              ELSE l[i] END) AS g
           FROM base),
         fr AS (
           SELECT source,
                  CASE WHEN len(l) = 0 THEN 0.0
                       ELSE 1.0 - (len(list_distinct(l))::DOUBLE / len(l)) END AS dw,
                  CASE WHEN len(g) = 0 THEN 0.0
                       ELSE 1.0 - (len(list_distinct(g))::DOUBLE / len(g)) END AS d2
           FROM m)
         SELECT source, count(*) AS n_docs,
                sum(CASE WHEN dw > 0.55 THEN 1 ELSE 0 END)::BIGINT AS n_dup_word_flagged,
                sum(CASE WHEN d2 > 0.05 THEN 1 ELSE 0 END)::BIGINT AS n_dup_2gram_flagged
         FROM fr GROUP BY source ORDER BY source""",
    "q57_pack_bins" ->
      """WITH packed AS (
           SELECT source, doc_id % 8 AS stream, doc_id,
                  (CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                   END)::BIGINT AS n_tokens
           FROM documents),
         cum AS (
           SELECT source, stream, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY source, stream ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
           FROM packed),
         b AS (
           SELECT source, stream, n_tokens,
                  floor((cum_tokens - n_tokens) / 512.0)::BIGINT AS bin_id
           FROM cum)
         SELECT source, stream, bin_id, count(*) AS n_docs,
                sum(n_tokens)::BIGINT AS bin_tokens
         FROM b GROUP BY 1, 2, 3 ORDER BY source, stream, bin_id""",
    "q49_cosine_topk_agg" ->
      """SELECT query_id, vec_id, sim, rk FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                  list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS sim,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                             c.vec_id) AS rk
           FROM embeddings c, embeddings q
           WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
         WHERE rk <= 5 ORDER BY query_id, rk""",
    "q52_contamination" ->
      """SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id, 1.0 AS sim
         FROM documents c JOIN documents b ON c.text = b.text
         WHERE b.doc_id % 100 = 0
         ORDER BY corpus_id, bench_id""",
    "q53_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders, sum(o_totalprice) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q54_window_topk" ->
      """SELECT hour, event_id, value, rk FROM (
           SELECT date_trunc('hour', ts) AS hour, event_id, value,
                  row_number() OVER (PARTITION BY date_trunc('hour', ts)
                    ORDER BY value DESC, event_id) AS rk
           FROM events)
         WHERE rk <= 3 ORDER BY hour, rk""",
    "q50_hash_split" ->
      """SELECT CASE WHEN substring(md5(text), 1, 2) < 'cd' THEN 'train'
                     WHEN substring(md5(text), 1, 2) < 'e6' THEN 'val'
                     ELSE 'test' END AS split,
                count(*) AS n_docs,
                sum(length(text))::BIGINT AS sum_chars
         FROM documents GROUP BY 1 ORDER BY split""",
    "q51_tfidf" ->
      """WITH w AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
           FROM documents),
         w2 AS (SELECT doc_id, word FROM w WHERE length(word) > 0),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
         df AS (SELECT word, count(DISTINCT doc_id) AS df FROM w2 GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT doc_id, word, tfidf, rk FROM (
           SELECT tf.doc_id, tf.word,
                  tf.tf * ln(n.n_docs::double / df.df) AS tfidf,
                  row_number() OVER (PARTITION BY tf.doc_id
                    ORDER BY tf.tf * ln(n.n_docs::double / df.df) DESC, tf.word)
                    AS rk
           FROM tf JOIN df USING (word), n
           WHERE tf.doc_id < 10)
         WHERE rk <= 3 ORDER BY doc_id, rk""",
    "q28_url_host" ->
      """SELECT lower(regexp_extract(url, '://([^/]+)', 1)) AS host, count(*) AS n
         FROM (SELECT 'https://' || source || '.example.com/docs/' || doc_id || '.pdf' AS url
               FROM documents)
         GROUP BY 1 ORDER BY host""",
    "q37_sessionize" ->
      """WITH s AS (
           SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         t AS (
           SELECT user_id, event_id, ts, value,
             (sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
           FROM s)
         SELECT user_id, session_id, count(*) AS n_events,
                min(ts) AS session_start, max(ts) AS session_end,
                sum(value) AS total_value
         FROM t GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
    "q40_links_replay" ->
      """WITH docs AS (
           SELECT * FROM read_parquet('/root/repo/spark-warehouse/links3m_yq/*.parquet')
           WHERE NOT (file_extension = 'pdf' AND year IS NOT NULL AND year < 2023)),
         latest AS (
           SELECT max(year) AS latest_year FROM docs WHERE year IS NOT NULL),
         lq AS (
           SELECT CASE WHEN max(coalesce(quarter, -1)) IS NULL
                         OR max(coalesce(quarter, -1)) = -1 THEN 4
                       ELSE max(coalesce(quarter, -1)) END AS latest_quarter
           FROM docs, latest WHERE docs.year = latest.latest_year)
         SELECT CASE WHEN length(trim(text)) > 0 THEN trim(text)
                     ELSE title END AS title,
                document_type AS category, url, source_url, file_extension,
                coalesce(year, latest_year, 2025) AS year,
                coalesce(quarter, latest_quarter, 4) AS quarter
         FROM docs, latest, lq
         WHERE latest_year IS NULL OR year IS NULL
            OR (year = latest_year AND (quarter IS NULL OR quarter >= latest_quarter))
            OR year > latest_year
         ORDER BY url""",
    "q41_asof_join" ->
      """WITH s AS (SELECT user_id, ts AS sts, event_id AS signup_event
                    FROM events WHERE event_type = 'signup'),
              o AS (SELECT user_id, ts, event_id
                    FROM events WHERE event_type <> 'signup')
         SELECT o.event_id, s.signup_event
         FROM o ASOF LEFT JOIN s
           ON o.user_id = s.user_id AND o.ts >= s.sts
         ORDER BY o.event_id""",
    "q44_bpe_tokens" ->
      """SELECT lang,
                sum(len(regexp_extract_all(lower(text),
                  '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9'']+')))::BIGINT
                  AS sum_bpe_tokens,
                count(*) AS n_docs
         FROM documents GROUP BY lang ORDER BY lang""",
    "q47_pivot" ->
      """SELECT hour(ts) AS hod,
                sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
                sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
                sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
                sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
                sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
         FROM events GROUP BY 1 ORDER BY hod""",
    "q48_explode_words" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
           FROM documents)
         WHERE length(word) > 0
         GROUP BY word ORDER BY n DESC, word LIMIT 10""",
    "q46_range_join" ->
      """SELECT e1.user_id AS user_id, count(*) AS n_pairs,
                min(abs(date_diff('microsecond', e1.ts, e2.ts))) AS min_gap_us
         FROM events e1 JOIN events e2
           ON e1.user_id = e2.user_id AND e1.event_id < e2.event_id
          AND abs(date_diff('microsecond', e1.ts, e2.ts)) <= 600000000
         GROUP BY 1 ORDER BY user_id""",
    "q42_content_type" ->
      """SELECT (ct LIKE '%text/html%' OR ct LIKE '%application/xhtml%') AS ok_discovery,
                (ct LIKE '%application/pdf%' OR ct LIKE '%octet-stream%') AS ok_title,
                count(*) AS n
         FROM (SELECT CASE WHEN doc_id % 4 = 0 THEN 'text/html; charset=utf-8'
                           WHEN doc_id % 4 = 1 THEN 'application/xhtml+xml'
                           WHEN doc_id % 4 = 2 THEN 'application/pdf'
                           ELSE 'application/octet-stream' END AS ct
               FROM documents)
         GROUP BY 1, 2 ORDER BY ok_discovery, ok_title""",
    "q39_classify_links" ->
      """SELECT CASE WHEN doc_id % 5 = 4 THEN 'invalid'
                     WHEN doc_id % 5 = 0 THEN 'document'
                     WHEN doc_id % 5 = 3 THEN 'internal'
                     WHEN doc_id % 5 = 1 THEN 'internal'
                     ELSE 'external' END AS link_type,
                count(*) AS n
         FROM documents GROUP BY 1 ORDER BY link_type""",
    "q38_percentiles" ->
      """SELECT o_orderstatus,
                quantile_cont(o_totalprice, 0.5) AS p50,
                quantile_cont(o_totalprice, 0.95) AS p95,
                count(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q30_collect_list" ->
      """SELECT o_custkey, array_to_string(list_sort(array_agg(o_orderkey)), ',') AS order_keys,
                count(*) AS n
         FROM orders WHERE o_custkey <= 50
         GROUP BY o_custkey ORDER BY o_custkey""",
    "q31_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_cust
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",
    "q32_map_lookup" ->
      """SELECT CASE WHEN lang = 'en' THEN 'English'
                     WHEN lang = 'es' THEN 'Spanish'
                     WHEN lang = 'de' THEN 'German'
                     ELSE 'Other' END AS lang_label, count(*) AS n
         FROM documents GROUP BY 1 ORDER BY lang_label""",
    "q33_running_sum" ->
      """SELECT o_custkey, o_orderkey,
                sum(o_totalprice) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS running_total
         FROM orders WHERE o_custkey <= 100
         ORDER BY o_custkey, o_orderkey""",
    "q34_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
                date_diff('day',
                  lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey),
                  o_orderdate)::int AS gap_days
         FROM orders WHERE o_custkey <= 100
         ORDER BY o_custkey, o_orderkey""",
    "q29_resolve_url" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 3 = 0
                       THEN 'https://cdn.example.org/a/' || doc_id || '.pdf'
                     WHEN doc_id % 3 = 1
                       THEN 'https://ir.example.com/abs/' || doc_id || '.pdf'
                     ELSE 'https://ir.example.com/filings/rel/' || doc_id || '.pdf'
                END AS resolved
         FROM documents ORDER BY doc_id""",
    // DSIR: feature counts, importance weights, and the Gumbel-top-k
    // selection all replayed from the dumped per-bucket log-ratio
    // table; the Gumbel uniform is the same md5-prefix draw as q98.
    "q100_dsir_select" ->
      """WITH r AS (
           SELECT fh, lr
           FROM read_parquet('/root/repo/spark-warehouse/q100_ratios/*.parquet')),
         dflt AS (SELECT lr FROM r WHERE fh = 'dflt'),
         toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         u1 AS (SELECT doc_id, unnest(l) AS t FROM toks),
         uni AS (SELECT doc_id, substring(md5(t), 1, 4) AS fh FROM u1),
         b1 AS (
           SELECT doc_id, l[i] || ' ' || l[i + 1] AS g
           FROM (SELECT doc_id, l,
                        unnest(generate_series(1, len(l) - 1)) AS i
                 FROM toks WHERE len(l) >= 2)),
         bi AS (SELECT doc_id, substring(md5(g), 1, 4) AS fh FROM b1),
         fc AS (
           SELECT doc_id, fh, count(*)::BIGINT AS cnt
           FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
           GROUP BY 1, 2),
         sc AS (
           SELECT f.doc_id,
                  sum(f.cnt * coalesce(rt.lr, (SELECT lr FROM dflt))) AS logw
           FROM fc f
           LEFT JOIN (SELECT * FROM r WHERE fh <> 'dflt') rt
             ON rt.fh = f.fh
           GROUP BY 1),
         g AS (
           SELECT s.doc_id, d.lang, s.logw,
                  round(s.logw + (-ln(-ln(
                    (('0x' || substring(md5(d.text), 1, 4))::INTEGER + 0.5)
                      / 65536.0))), 4) AS sel_key
           FROM sc s JOIN documents d ON d.doc_id = s.doc_id),
         top AS (SELECT * FROM g ORDER BY sel_key DESC, doc_id LIMIT 100)
         SELECT doc_id, lang, round(logw, 4) AS logw, sel_key
         FROM top ORDER BY doc_id""",
    // temperature mixing: fully relational — the mixture table and
    // every keep fate recomputed; rates rounded to 6 decimals before
    // the keep comparison on both sides (the determinism contract).
    "q101_temperature_mix" ->
      """WITH tok AS (
           SELECT source, text,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                  END AS nt
           FROM documents),
         agg AS (
           SELECT source, count(*)::BIGINT AS n_docs,
                  sum(nt)::BIGINT AS n_tokens
           FROM tok GROUP BY source),
         w AS (
           SELECT source, n_docs, n_tokens,
                  round(pow(n_tokens::DOUBLE, 0.7) /
                    sum(pow(n_tokens::DOUBLE, 0.7)) OVER (), 6) AS weight
           FROM agg),
         w2 AS (
           SELECT source, n_docs, n_tokens, weight,
                  round(30000.0 * weight / n_tokens, 6) AS epochs
           FROM w),
         w3 AS (SELECT *, least(1.0, epochs) AS rate FROM w2),
         k AS (
           SELECT t.source,
                  sum(CASE WHEN (('0x' || substring(md5(t.text), 1, 4))::INTEGER
                        / 65536.0) < w3.rate
                      THEN 1 ELSE 0 END)::BIGINT AS n_kept
           FROM tok t JOIN w3 ON w3.source = t.source
           GROUP BY t.source)
         SELECT w3.source, n_docs, n_tokens, weight, rate, epochs, n_kept
         FROM w3 JOIN k ON k.source = w3.source
         ORDER BY w3.source""",
    // CCNet buckets: scores replayed from the dumped count tables
    // (q99's replica), bucket assignment from the dumped per-language
    // threshold table.
    "q102_ccnet_buckets" ->
      """WITH uni AS (
           SELECT w, c
           FROM read_parquet('/root/repo/spark-warehouse/q102_unigrams/*.parquet')),
         bi AS (
           SELECT w1, w2, c
           FROM read_parquet('/root/repo/spark-warehouse/q102_bigrams/*.parquet')),
         v AS (SELECT count(*)::DOUBLE AS v FROM uni),
         toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         pairs AS (
           SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
           FROM (SELECT doc_id, l,
                        unnest(generate_series(1, len(l) - 1)) AS i
                 FROM toks WHERE len(l) >= 2)),
         nll AS (
           SELECT p.doc_id,
                  -ln((coalesce(bi.c, 0) + 0.5) /
                      (coalesce(uni.c, 0) + 0.5 * (SELECT v FROM v))) AS nll
           FROM pairs p
           LEFT JOIN bi ON bi.w1 = p.w1 AND bi.w2 = p.w2
           LEFT JOIN uni ON uni.w = p.w1),
         sc AS (
           SELECT doc_id, avg(nll) AS nll_raw,
                  round(avg(nll), 4) AS avg_nll
           FROM nll GROUP BY doc_id),
         sl AS (
           SELECT s.doc_id, d.lang, s.avg_nll, s.nll_raw
           FROM sc s JOIN documents d ON d.doc_id = s.doc_id),
         thr AS (
           SELECT grp, q0, q1
           FROM read_parquet('/root/repo/spark-warehouse/q102_thresholds/*.parquet')),
         b AS (
           SELECT sl.lang,
                  CASE WHEN sl.avg_nll <= t.q0 THEN 0
                       WHEN sl.avg_nll <= t.q1 THEN 1
                       ELSE 2 END AS bucket,
                  sl.nll_raw
           FROM sl LEFT JOIN thr t ON t.grp = sl.lang)
         SELECT lang, bucket, count(*)::BIGINT AS n_docs,
                round(avg(nll_raw), 4) AS mean_nll
         FROM b GROUP BY 1, 2 ORDER BY 1, 2""",
    // BM25: tf/df/idf/avgdl and every score recomputed relationally.
    // Float-parity notes: constants are written as the same arithmetic
    // Spark evaluates ((1.2 + 1), not 2.2 — they differ in the last
    // ulp) and the score is rounded to 4 decimals before ranking on
    // both sides, with doc_id tiebreak.
    "q103_bm25_topk" ->
      """WITH toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS l,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                  END AS dl
           FROM documents),
         stats AS (
           SELECT count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl
           FROM toks),
         q AS (
           SELECT unnest(['vector', 'window', 'merge', 'stream']) AS term),
         posts AS (SELECT doc_id, dl, unnest(l) AS term FROM toks),
         tf AS (
           SELECT p.doc_id, p.term, count(*)::BIGINT AS tf,
                  max(p.dl)::DOUBLE AS dl
           FROM posts p JOIN q ON q.term = p.term
           GROUP BY 1, 2),
         df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
         idf AS (
           SELECT term,
                  ln(1.0 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))
                    AS idf
           FROM df),
         contrib AS (
           SELECT tf.doc_id,
                  idf.idf * (tf.tf * (1.2 + 1)) /
                    (tf.tf + 1.2 * (1.0 - 0.75 +
                      0.75 * tf.dl / (SELECT avgdl FROM stats))) AS c
           FROM tf JOIN idf ON idf.term = tf.term),
         sc AS (
           SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
                  round(sum(c), 4) AS score
           FROM contrib GROUP BY 1),
         top AS (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 20)
         SELECT doc_id, n_terms_hit, score FROM top ORDER BY doc_id""",
    // approx-quantile contract: exact side replayed (quantile_cont =
    // the same linear interpolation as Spark's percentile), booleans
    // assert the sketch landed within tolerance
    "q104_approx_quantile" ->
      """SELECT source,
                round(quantile_cont(n_chars, 0.5), 4) AS p50_exact,
                round(quantile_cont(n_chars, 0.9), 4) AS p90_exact,
                TRUE AS p50_ok, TRUE AS p90_ok
         FROM documents GROUP BY source ORDER BY source""",
    // DSIR scalar gate: per-occurrence log-ratio sums replayed from
    // the dumped table (unigrams + bigrams, default for unseen)
    "q105_dsir_gate" ->
      """WITH r AS (
           SELECT fh, lr
           FROM read_parquet('/root/repo/spark-warehouse/q105_ratios/*.parquet')),
         dflt AS (SELECT lr FROM r WHERE fh = 'dflt'),
         toks AS (
           SELECT doc_id, source,
                  string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         occ AS (
           SELECT doc_id, substring(md5(t), 1, 4) AS fh
           FROM (SELECT doc_id, unnest(l) AS t FROM toks)
           UNION ALL
           SELECT doc_id, substring(md5(g), 1, 4) AS fh
           FROM (SELECT doc_id, l[i] || ' ' || l[i + 1] AS g
                 FROM (SELECT doc_id, l,
                              unnest(generate_series(1, len(l) - 1)) AS i
                       FROM toks WHERE len(l) >= 2))),
         sc AS (
           SELECT o.doc_id,
                  sum(coalesce(rt.lr, (SELECT lr FROM dflt))) AS logw
           FROM occ o
           LEFT JOIN (SELECT * FROM r WHERE fh <> 'dflt') rt
             ON rt.fh = o.fh
           GROUP BY 1)
         SELECT t.source, count(*)::BIGINT AS n_docs,
                sum(CASE WHEN s.logw >= 0.0 THEN 1 ELSE 0 END)::BIGINT
                  AS n_kept,
                round(avg(s.logw), 4) AS avg_logw
         FROM toks t JOIN sc s ON s.doc_id = t.doc_id
         GROUP BY t.source ORDER BY t.source""",
    // heavy-hitter contract: the oracle recomputes the deterministic
    // Zipf stream and the exact counts; the booleans are the MG
    // guarantee, which the Spark side must honestly evaluate (q63
    // pattern: a summary regression makes Spark emit false → hash red)
    "q106_heavy_hitters" ->
      """WITH items AS (
           SELECT floor(1.0 / ((('0x' || substring(md5(
                    l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR),
                    1, 8))::BIGINT::DOUBLE + 1.0) / 4294967296.0))
                  ::BIGINT::VARCHAR AS item
           FROM lineitem),
         cnt AS (SELECT item, count(*)::BIGINT AS n_exact
                 FROM items GROUP BY item),
         tot AS (SELECT count(*)::DOUBLE AS n FROM items)
         SELECT item, n_exact, TRUE AS present_ok, TRUE AS bound_ok
         FROM cnt, tot WHERE n_exact > n / 17.0
         ORDER BY item""",
    // KMV overlap contract: exact Jaccard of the two doc slices'
    // distinct-text sets; the tolerance boolean is TRUE by contract
    "q107_kmv_overlap" ->
      """WITH fl AS (
           SELECT text,
                  max(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ia,
                  max(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS ib
           FROM documents
           WHERE text IS NOT NULL AND (doc_id % 2 = 0 OR doc_id % 3 = 0)
           GROUP BY text)
         SELECT round(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1.0 ELSE 0.0 END)
                      / count(*), 4) AS j_exact,
                TRUE AS overlap_ok
         FROM fl""",
    "q108_image_decode" ->
      """SELECT doc_id AS asset_id,
                CASE WHEN doc_id % 37 = 0 THEN NULL
                     ELSE (1 + doc_id % 7)::INT END AS width,
                CASE WHEN doc_id % 37 = 0 THEN NULL
                     ELSE (1 + doc_id % 5)::INT END AS height,
                CASE WHEN doc_id % 37 = 0 THEN NULL ELSE 1 END AS bands,
                CASE WHEN doc_id % 37 = 0 THEN NULL
                     ELSE round(((doc_id * 17) % 256)::DOUBLE, 4) END AS mean_luma
         FROM documents WHERE doc_id % 11 = 0 ORDER BY asset_id""",
    "q109_unigram_seed" ->
      """WITH words AS (
           SELECT w, count(*) AS wc FROM (
             SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             FROM documents)
           WHERE length(w) >= 1 GROUP BY w),
         pos AS (
           SELECT w, wc, unnest(range(1, length(w)::BIGINT + 1)) AS i
           FROM words),
         sub AS (
           SELECT w, wc, i,
                  unnest(range(1, least(3, length(w) - i + 1)::BIGINT + 1)) AS l
           FROM pos)
         SELECT substring(w, i::INT, l::INT) AS piece, sum(wc)::BIGINT AS cnt
         FROM sub GROUP BY 1 ORDER BY cnt DESC, piece LIMIT 30""",
    "q110_ann_append" ->
      """WITH idx AS (
           SELECT vec_id, codes, list_id::INT AS list_id
           FROM read_parquet('/root/repo/spark-warehouse/q110_index/list_id=*/*.parquet', hive_partitioning=true)),
         cb AS (
           SELECT sub, code, sdim, w::DOUBLE AS w
           FROM read_parquet('/root/repo/spark-warehouse/q110_index/_models/codebooks/*.parquet')),
         probes AS (
           SELECT query_id, list_id
           FROM read_parquet('/root/repo/spark-warehouse/q110_probes/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         codes AS (
           SELECT vec_id, s.i - 1 AS sub, codes[s.i] AS code
           FROM idx, generate_series(1, 8) s(i)),
         cand AS (
           SELECT DISTINCT p.query_id, a.vec_id
           FROM probes p JOIN idx a USING (list_id)
           WHERE a.vec_id <> p.query_id),
         recon AS (
           SELECT c.vec_id, cb.sub * 8 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         scored AS (
           SELECT cand.query_id, cand.vec_id,
                  round(sum(r.w * q.embedding[r.dim + 1]::DOUBLE), 6) AS sim
           FROM cand JOIN recon r ON r.vec_id = cand.vec_id
                     JOIN q ON q.query_id = cand.query_id
           GROUP BY cand.query_id, cand.vec_id)
         SELECT query_id, vec_id, sim, rk FROM (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL)
         WHERE rk <= 5 ORDER BY query_id, rk""",
    "q111_doc_repetition" ->
      """WITH d AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents WHERE doc_id < 200),
         t AS (
           SELECT doc_id, len(toks) AS nt, toks FROM d WHERE len(toks) >= 2),
         pos AS (
           SELECT doc_id, nt, toks, unnest(range(1, nt::BIGINT)) AS i FROM t),
         occ AS (
           SELECT doc_id, i, toks[i::INT] || ' ' || toks[(i + 1)::INT] AS gram
           FROM pos),
         cnts AS (
           SELECT doc_id, gram, count(*) AS c FROM occ GROUP BY 1, 2),
         top AS (
           SELECT doc_id, max(c)::BIGINT AS top_gram_cnt FROM cnts GROUP BY 1),
         dupocc AS (
           SELECT o.doc_id, o.i FROM occ o
           JOIN cnts c ON c.doc_id = o.doc_id AND c.gram = o.gram
           WHERE c.c >= 2),
         cover AS (
           SELECT doc_id, i AS p FROM dupocc
           UNION ALL SELECT doc_id, i + 1 FROM dupocc),
         dup AS (
           SELECT g.doc_id, g.dgo, v.dtc FROM
             (SELECT doc_id, count(DISTINCT i)::BIGINT AS dgo
              FROM dupocc GROUP BY 1) g
           JOIN (SELECT doc_id, count(DISTINCT p)::BIGINT AS dtc
                 FROM cover GROUP BY 1) v USING (doc_id))
         SELECT t.doc_id, t.nt::INT AS n_tokens, top.top_gram_cnt,
                coalesce(dup.dgo, 0) AS dup_gram_occurrences,
                coalesce(dup.dtc, 0) AS dup_token_cover
         FROM t JOIN top USING (doc_id) LEFT JOIN dup USING (doc_id)
         ORDER BY doc_id""",
    "q112_kn_perplexity" ->
      """WITH bi AS (
           SELECT w1, w2, c
           FROM read_parquet('/root/repo/spark-warehouse/q112_bigrams/*.parquet')),
         hist AS (SELECT w1, sum(c) AS ch, count(*) AS n1p FROM bi GROUP BY 1),
         cont AS (SELECT w2, count(*) AS nc FROM bi GROUP BY 1),
         sc AS (SELECT (SELECT count(*) FROM bi)::DOUBLE AS ntypes,
                       (SELECT count(*) FROM cont)::DOUBLE AS v),
         toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         pairs AS (
           SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
           FROM (SELECT doc_id, l,
                        unnest(generate_series(1, len(l) - 1)) AS i
                 FROM toks WHERE len(l) >= 2)),
         nll AS (
           SELECT p.doc_id,
                  -ln(CASE WHEN h.ch IS NULL
                       THEN (coalesce(ct.nc, 0) + 1.0) /
                            (sc.ntypes + sc.v + 1.0)
                       ELSE greatest(coalesce(bi.c, 0) - 0.75, 0) / h.ch
                            + (0.75 * h.n1p / h.ch) *
                              ((coalesce(ct.nc, 0) + 1.0) /
                               (sc.ntypes + sc.v + 1.0)) END) AS nll
           FROM pairs p
           LEFT JOIN bi ON bi.w1 = p.w1 AND bi.w2 = p.w2
           LEFT JOIN hist h ON h.w1 = p.w1
           LEFT JOIN cont ct ON ct.w2 = p.w2, sc)
         SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                round(avg(nll), 4) AS avg_nll
         FROM nll GROUP BY doc_id ORDER BY doc_id""",
    "q113_image_dhash" ->
      """WITH d AS (SELECT doc_id, doc_id % 25 AS g, (doc_id % 11 = 0) AS bump
                    FROM documents WHERE doc_id % 17 = 0),
         cells AS (
           SELECT doc_id, i, j,
                  (31*g + 17*i + 29*j + 23*((g*(i+2*j)) % 13)) % 150 +
                    CASE WHEN bump AND i = 4 AND j = 0 THEN 50 ELSE 0 END AS v
           FROM d,
                (SELECT unnest(generate_series(0, 8)) AS i),
                (SELECT unnest(generate_series(0, 7)) AS j)),
         bits AS (
           SELECT l.doc_id, (l.j*8 + l.i) AS idx
           FROM cells l JOIN cells r
             ON r.doc_id = l.doc_id AND r.j = l.j AND r.i = l.i + 1
           WHERE r.v > l.v),
         hs AS (SELECT doc_id,
                       bit_or(CASE WHEN idx = 63
                              THEN (-9223372036854775807 - 1)::BIGINT
                              ELSE 1::BIGINT << idx END) AS dh
                FROM bits GROUP BY doc_id),
         hashes AS (SELECT d.doc_id, coalesce(hs.dh, 0) AS dh
                    FROM d LEFT JOIN hs USING (doc_id))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                bit_count(xor(a.dh, b.dh))::BIGINT AS hamming
         FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.dh, b.dh)) <= 3
         ORDER BY id_a, id_b""",
    // audio decode: every stat is closed-form arithmetic on the plant
    // parameters (square wave: mean |s| = amp, crossings at multiples
    // of the half-period); every 37th payload is truncated → NULLs
    "q114_audio_decode" ->
      """WITH d AS (SELECT doc_id,
                           1 + doc_id % 5 AS half,
                           (1000 + (doc_id % 7) * 100)::DOUBLE AS amp,
                           160 + (doc_id % 11) * 16 AS n,
                           (doc_id % 37 = 0) AS corrupt
                    FROM documents WHERE doc_id < 500)
         SELECT doc_id AS asset_id,
                CASE WHEN corrupt THEN NULL ELSE 8000 END AS sample_rate,
                CASE WHEN corrupt THEN NULL ELSE 1 END AS channels,
                CASE WHEN corrupt THEN NULL ELSE n END AS n_frames,
                CASE WHEN corrupt THEN NULL ELSE n // 8 END AS duration_ms,
                CASE WHEN corrupt THEN NULL ELSE round(amp, 4) END AS mean_abs,
                CASE WHEN corrupt THEN NULL ELSE (n - 1) // half
                     END AS zero_crossings
         FROM d ORDER BY asset_id""",
    // audio fingerprint: frame energies are 4·A(g,b)² with A positive,
    // so bit b ⇔ A(g,b+1) > A(g,b) — the hash in closed form, then
    // the all-pairs Hamming join (checks the LSH path's completeness)
    "q115_audio_fingerprint" ->
      """WITH d AS (SELECT doc_id, doc_id % 25 AS g, (doc_id % 11 = 0) AS bump
                    FROM documents WHERE doc_id % 17 = 0),
         bins AS (
           SELECT doc_id, b,
                  100 + (31*g + 17*b + 23*((g*(b+3)) % 13)) % 150 +
                    CASE WHEN bump AND b = 4 THEN 50 ELSE 0 END AS v
           FROM d, (SELECT unnest(generate_series(0, 64)) AS b)),
         bits AS (
           SELECT l.doc_id, l.b AS idx
           FROM bins l JOIN bins r
             ON r.doc_id = l.doc_id AND r.b = l.b + 1
           WHERE r.v > l.v),
         hs AS (SELECT doc_id,
                       bit_or(CASE WHEN idx = 63
                              THEN (-9223372036854775807 - 1)::BIGINT
                              ELSE 1::BIGINT << idx END) AS ah
                FROM bits GROUP BY doc_id),
         hashes AS (SELECT d.doc_id, coalesce(hs.ah, 0) AS ah
                    FROM d LEFT JOIN hs USING (doc_id))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                bit_count(xor(a.ah, b.ah))::BIGINT AS hamming
         FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.ah, b.ah)) <= 3
         ORDER BY id_a, id_b""",
    // exact sequence packing: the oracle replays the bucketed prefix
    // sum with a plain global window (same stream, same fragments)
    "q116_pack_sequences" ->
      """WITH toks AS (
           SELECT doc_id,
                  CASE WHEN len(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                       END::BIGINT AS nt
           FROM documents),
         offs AS (
           SELECT doc_id, nt,
                  coalesce(sum(nt) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0)::BIGINT AS st
           FROM toks WHERE nt >= 1),
         frags AS (
           SELECT doc_id, nt, st,
                  unnest(generate_series(st // 256,
                                         (st + nt - 1) // 256)) AS seq_id
           FROM offs)
         SELECT seq_id, doc_id,
                greatest(seq_id * 256 - st, 0) AS doc_offset,
                greatest(st - seq_id * 256, 0) AS seq_offset,
                least(st + nt, (seq_id + 1) * 256)
                  - greatest(st, seq_id * 256) AS n_toks
         FROM frags ORDER BY seq_id, doc_id""",
    // multi-frame decode: every frame row predicted from the plant
    // arithmetic; corrupt (every 37th) assets contribute no rows
    "q117_frame_decode" ->
      """WITH d AS (SELECT doc_id, 3 + doc_id % 4 AS w,
                           2 + doc_id % 3 AS h, 2 + doc_id % 4 AS nf
                    FROM documents
                    WHERE doc_id % 13 = 0 AND doc_id % 37 <> 0)
         SELECT doc_id AS asset_id, f AS frame_index,
                w::INT AS width, h::INT AS height,
                round(((13 * doc_id + 31 * f) % 200)::DOUBLE, 4) AS mean_luma
         FROM d, (SELECT unnest(generate_series(0, 4)) AS f)
         WHERE f < nf
         ORDER BY asset_id, frame_index""",
    "q118_pdf_extract" ->
      """WITH t AS (
           SELECT doc_id,
                  'report ' || doc_id || ' earnings (net) summary' || chr(10) ||
                  'revenue ' || (doc_id * 31 + 1) || ' usd' || chr(10) ||
                  'total ' || (doc_id * 7) || ' qtr ' || (doc_id % 4) AS txt
           FROM documents WHERE doc_id % 11 = 0)
         SELECT doc_id AS asset_id,
                CASE WHEN doc_id % 37 = 0 THEN NULL
                     ELSE length(txt) END AS n_chars,
                CASE WHEN doc_id % 37 = 0 THEN NULL ELSE txt END AS text
         FROM t ORDER BY asset_id""",
    "q119_pdf_roundtrip" ->
      """SELECT doc_id AS asset_id, length(text)::BIGINT AS n_chars,
                md5(text) AS text_md5
         FROM documents WHERE text IS NOT NULL AND doc_id % 7 = 0
         ORDER BY asset_id""",
    "q120_dhash_expr" ->
      """WITH d AS (SELECT doc_id, doc_id % 25 AS g, (doc_id % 11 = 0) AS bump
                    FROM documents WHERE doc_id % 17 = 0),
         cells AS (
           SELECT doc_id, i, j,
                  (31*g + 17*i + 29*j + 23*((g*(i+2*j)) % 13)) % 150 +
                    CASE WHEN bump AND i = 4 AND j = 0 THEN 50 ELSE 0 END AS v
           FROM d,
                (SELECT unnest(generate_series(0, 8)) AS i),
                (SELECT unnest(generate_series(0, 7)) AS j)),
         bits AS (
           SELECT l.doc_id, (l.j*8 + l.i) AS idx
           FROM cells l JOIN cells r
             ON r.doc_id = l.doc_id AND r.j = l.j AND r.i = l.i + 1
           WHERE r.v > l.v),
         hs AS (SELECT doc_id,
                       bit_or(CASE WHEN idx = 63
                              THEN (-9223372036854775807 - 1)::BIGINT
                              ELSE 1::BIGINT << idx END) AS dh
                FROM bits GROUP BY doc_id),
         hashes AS (SELECT d.doc_id, coalesce(hs.dh, 0) AS dh
                    FROM d LEFT JOIN hs USING (doc_id))
         SELECT b.band, (dh >> (b.band * 16)) & 65535 AS band_hash,
                count(*) AS n
         FROM hashes, (VALUES (0), (1), (2), (3)) AS b(band)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q121_warc_scan" ->
      """SELECT 'https://' || source || '.example.com/doc/' || doc_id
                  AS target_uri,
                200 AS http_status,
                length('<html><body><p>' || text || '</p><a href="/next/'
                       || doc_id || '">n</a></body></html>')::BIGINT
                  AS n_bytes
         FROM documents WHERE doc_id % 3 = 0
         ORDER BY target_uri""",
    "q122_warc_pdf_pipeline" ->
      """SELECT 'https://' || source || '.example.com/reports/' || doc_id
                  || '.pdf' AS target_uri,
                md5(text) AS text_md5
         FROM documents WHERE text IS NOT NULL AND doc_id % 5 = 0
         ORDER BY target_uri""",
    "q123_canonical_url" ->
      """SELECT 'https://' || lower(source) || '.example.com/docs/'
                  || doc_id || '.pdf?a=1&b=2' AS canonical,
                count(*) AS n
         FROM documents GROUP BY 1 ORDER BY 1""",
    "q124_unicode_norm" ->
      """WITH m AS (
           SELECT doc_id,
                  'A' || chr(769) || substr(text, 1, 24) || chr(9)
                      || ' Nun' || chr(771) || 'ez' || chr(11) || chr(12)
                      || ' x' || chr(127) || '  ' AS messy
           FROM documents WHERE doc_id % 7 = 0),
         c AS (
           SELECT doc_id, messy,
                  trim(regexp_replace(regexp_replace(messy,
                         '[\x01-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                       '[ \t\n\r]+', ' ', 'g'), ' ') AS clean
           FROM m)
         SELECT doc_id,
                md5(nfc_normalize(messy)) AS nfc_md5,
                md5(strip_accents(messy)) AS plain_md5,
                md5(clean) AS clean_md5,
                length(clean) AS n_clean
         FROM c ORDER BY doc_id""",
    "q125_robots_policy" ->
      """SELECT doc_id,
                doc_id % 4 IN (1, 3) AS allowed,
                2 AS n_sitemaps,
                CAST(2.5 AS DOUBLE) AS delay_s
         FROM documents WHERE doc_id % 5 = 0 ORDER BY doc_id""",
    "q126_sitemap_extract" ->
      """WITH e AS (
           SELECT doc_id, 'url' AS kind,
                  'https://s.ex.com/d' || doc_id || '/p0' AS loc,
                  '2026-08-01' AS lastmod,
                  CAST(NULL AS VARCHAR) AS changefreq,
                  '0.5' AS priority
           FROM documents WHERE doc_id % 6 = 0
           UNION ALL
           SELECT doc_id, 'url',
                  'https://s.ex.com/d' || doc_id || '/p1?a=1&b=2',
                  NULL, NULL, NULL
           FROM documents WHERE doc_id % 6 = 0
           UNION ALL
           SELECT doc_id, 'url',
                  'https://s.ex.com/d' || doc_id || '/p2',
                  NULL, 'daily', NULL
           FROM documents WHERE doc_id % 6 = 0)
         SELECT doc_id, kind, loc, lastmod, changefreq, priority
         FROM e ORDER BY doc_id, loc""",
    "q127_warc_cdx" ->
      """SELECT 'https://' || source || '.example.com/cdx/' || doc_id
                  AS target_uri,
                md5('<html><body><p>' || text || '</p></body></html>')
                  AS body_md5,
                200 AS http_status
         FROM documents WHERE doc_id % 4 = 1 ORDER BY target_uri""",
    "q128_line_boilerplate" ->
      """WITH m AS (
           SELECT doc_id,
                  'NAV MENU HOME' || chr(10) || text || chr(10)
                    || 'unique ' || doc_id || chr(10)
                    || 'COPYRIGHT 2026 FOOTER' AS mtext
           FROM documents WHERE doc_id % 3 = 0),
         l AS (
           SELECT doc_id, string_split(mtext, chr(10)) AS ls FROM m),
         e AS (
           SELECT doc_id, unnest(ls) AS line,
                  generate_subscripts(ls, 1) AS ord
           FROM l),
         b AS (
           SELECT line FROM e WHERE trim(line) <> ''
           GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
         k AS (
           SELECT e.doc_id, e.line, e.ord
           FROM e ANTI JOIN b USING (line))
         SELECT doc_id,
                md5(string_agg(line, chr(10) ORDER BY ord)) AS clean_md5,
                length(string_agg(line, chr(10) ORDER BY ord)) AS n_chars
         FROM k GROUP BY doc_id ORDER BY doc_id""",
    "q129_line_quality" ->
      """WITH m AS (
           SELECT doc_id,
                  text || chr(10) || 'menu item' || chr(10) || 'menu item'
                    || chr(10) || 'A proper sentence.'
                    || CASE WHEN doc_id % 2 = 0
                            THEN chr(10) || 'Another one!' ELSE '' END
                    AS mtext
           FROM documents WHERE doc_id % 5 = 2),
         n AS (
           SELECT doc_id,
                  list_filter(string_split(mtext, chr(10)),
                              l -> trim(l) <> '') AS nb
           FROM m)
         SELECT doc_id,
                CASE WHEN len(nb) = 0 THEN 0.0
                     ELSE 1.0 - len(list_distinct(nb)) / len(nb)::DOUBLE
                END AS dup_line_frac,
                CASE WHEN len(nb) = 0 THEN 0.0
                     ELSE len(list_filter(nb, l ->
                            regexp_matches(trim(l), '[.!?"'']$')))
                          / len(nb)::DOUBLE
                END AS punct_line_frac
         FROM n ORDER BY doc_id""",
    "q130_sentences" ->
      """SELECT doc_id, 4 AS n_sent,
                md5('First part about ' || source || '.') AS first_md5,
                md5('Was it ' || doc_id || '?') AS third_md5
         FROM documents WHERE doc_id % 6 = 3 ORDER BY doc_id""",
    "q131_sentence_chunks" ->
      """WITH s AS (
           SELECT doc_id, 0 AS pos,
                  'First part about ' || source || '.' AS s
           FROM documents WHERE doc_id % 6 = 3
           UNION ALL
           SELECT doc_id, 1, 'Dr. Smith of Acme Inc. spoke!'
           FROM documents WHERE doc_id % 6 = 3
           UNION ALL
           SELECT doc_id, 2, 'Was it ' || doc_id || '?'
           FROM documents WHERE doc_id % 6 = 3
           UNION ALL
           SELECT doc_id, 3, 'The end.'
           FROM documents WHERE doc_id % 6 = 3),
         c AS (
           SELECT doc_id, pos, s,
                  COALESCE(SUM(length(s) + 1) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS bf
           FROM s)
         SELECT doc_id,
                CAST(floor(bf / 40.0) AS INTEGER) AS chunk_idx,
                md5(string_agg(s, ' ' ORDER BY pos)) AS chunk_md5,
                CAST(count(*) AS INTEGER) AS n_sentences
         FROM c GROUP BY doc_id, CAST(floor(bf / 40.0) AS INTEGER)
         ORDER BY doc_id, chunk_idx""",
    "q132_hashed_embedding" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
           FROM documents WHERE doc_id % 9 = 1),
         h AS (
           SELECT doc_id,
                  CAST(('0x' || substr(md5(t), 1, 8))::BIGINT % 64
                       AS INTEGER) AS bucket,
                  CASE WHEN substr(md5(t), 9, 1) < '8'
                       THEN 1 ELSE -1 END AS sgn
           FROM tok WHERE t <> '')
         SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS v
         FROM h GROUP BY doc_id, bucket ORDER BY doc_id, bucket""",
    "q133_pdf_images" ->
      """WITH d AS (
           SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h
           FROM documents
           WHERE doc_id % 8 = 5 AND doc_id % 11 <> 0),
         px AS (
           SELECT doc_id, w, h,
                  unnest(generate_series(0, w - 1)) AS x
           FROM d),
         pxy AS (
           SELECT doc_id, w, h, x,
                  unnest(generate_series(0, h - 1)) AS y
           FROM px)
         SELECT doc_id, 0 AS img_idx,
                CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                CAST(w * h AS BIGINT) AS n_pixels,
                CAST(sum((doc_id * 7 + x * 3 + y * 11) % 251) AS BIGINT)
                  AS sum_gray
         FROM pxy GROUP BY doc_id, w, h ORDER BY doc_id""",
    // Multi-query BM25 batch + RRF fusion: the q103 relational replay
    // extended to (query, term) pairs, TWO rankings (b=0.75 / b=0 —
    // same float-parity constant forms as Spark evaluates), and the
    // exact 1/(60+rank) fusion; ranks tie-break on doc_id after the
    // 4-decimal score round on both sides.
    "q134_bm25_batch_rrf" ->
      """WITH toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS l,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                  END AS dl
           FROM documents),
         stats AS (
           SELECT count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl
           FROM toks),
         q AS (
           SELECT * FROM (VALUES
             (0, 'vector'), (0, 'window'), (0, 'merge'),
             (1, 'stream'), (1, 'window'),
             (2, 'vector'), (2, 'stream'), (2, 'merge'), (2, 'window'))
           AS t(qid, term)),
         posts AS (SELECT doc_id, dl, unnest(l) AS term FROM toks),
         tf AS (
           SELECT p.doc_id, p.term, count(*)::BIGINT AS tf,
                  max(p.dl)::DOUBLE AS dl
           FROM posts p JOIN (SELECT DISTINCT term FROM q) u
             ON u.term = p.term
           GROUP BY 1, 2),
         df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
         idf AS (
           SELECT term,
                  ln(1.0 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))
                    AS idf
           FROM df),
         contrib AS (
           SELECT q.qid, tf.doc_id,
                  idf.idf * (tf.tf * (1.2 + 1)) /
                    (tf.tf + 1.2 * (1.0 - 0.75 +
                      0.75 * tf.dl / (SELECT avgdl FROM stats))) AS ca,
                  idf.idf * (tf.tf * (1.2 + 1)) /
                    (tf.tf + 1.2 * (1.0 - 0.0 +
                      0.0 * tf.dl / (SELECT avgdl FROM stats))) AS cb
           FROM tf JOIN idf ON idf.term = tf.term
                   JOIN q ON q.term = tf.term),
         sc AS (
           SELECT qid, doc_id, round(sum(ca), 4) AS sa,
                  round(sum(cb), 4) AS sb
           FROM contrib GROUP BY 1, 2),
         ra AS (
           SELECT qid, doc_id, row_number() OVER (
             PARTITION BY qid ORDER BY sa DESC, doc_id) AS r
           FROM sc QUALIFY r <= 15),
         rb AS (
           SELECT qid, doc_id, row_number() OVER (
             PARTITION BY qid ORDER BY sb DESC, doc_id) AS r
           FROM sc QUALIFY r <= 15),
         fused AS (
           SELECT qid, doc_id,
                  coalesce(1.0 / (60 + ra.r), 0.0) +
                  coalesce(1.0 / (60 + rb.r), 0.0) AS rrf
           FROM ra FULL JOIN rb USING (qid, doc_id)),
         ranked AS (
           SELECT qid, doc_id, rrf, row_number() OVER (
             PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rk
           FROM fused QUALIFY rk <= 12)
         SELECT qid::BIGINT AS query_id, rk::INTEGER AS rk, doc_id,
                round(rrf, 6) AS rrf_score
         FROM ranked ORDER BY query_id, rk""",
    // Retrieval served from the written files: query embeddings
    // recomputed from question texts (q132 arithmetic — integer bucket
    // counts, exact double norm, REAL cast = the float kernel's
    // values), candidates from the materialized probes (q93 pattern),
    // ADC scoring from the persisted codes ⋈ codebooks, rank by
    // (sim desc, vec_id), chunk metadata from the chunk table.
    "q135_retrieval_serve" ->
      """WITH qt AS (
           SELECT * FROM (VALUES
             (0, 'vector window merge'),
             (1, 'stream processing window'),
             (2, 'merge stream vector')) AS t(query_id, qtext)),
         qtok AS (
           SELECT query_id,
                  unnest(string_split_regex(lower(trim(qtext)), '\s+')) AS t
           FROM qt),
         qb AS (
           SELECT query_id,
                  CAST(('0x' || substr(md5(t), 1, 8))::BIGINT % 64
                       AS INTEGER) AS dim,
                  CASE WHEN substr(md5(t), 9, 1) < '8'
                       THEN 1 ELSE -1 END AS sgn
           FROM qtok WHERE t <> ''),
         qraw AS (
           SELECT query_id, dim, CAST(sum(sgn) AS DOUBLE) AS v
           FROM qb GROUP BY 1, 2),
         qnorm AS (
           SELECT query_id, sqrt(sum(v * v)) AS nrm
           FROM qraw GROUP BY 1),
         qv AS (
           SELECT q.query_id, q.dim, CAST(q.v / n.nrm AS REAL) AS val
           FROM qraw q JOIN qnorm n USING (query_id) WHERE n.nrm > 0),
         idx AS (
           SELECT vec_id, codes, list_id::INT AS list_id
           FROM read_parquet('/root/repo/spark-warehouse/q135_ret/index/list_id=*/*.parquet', hive_partitioning=true)),
         cb AS (
           SELECT sub, code, sdim, w::DOUBLE AS w
           FROM read_parquet('/root/repo/spark-warehouse/q135_ret/index/_models/codebooks/*.parquet')),
         probes AS (
           SELECT query_id, list_id
           FROM read_parquet('/root/repo/spark-warehouse/q135_probes/*.parquet')),
         codes AS (
           SELECT vec_id, s.i - 1 AS sub, codes[s.i] AS code
           FROM idx, generate_series(1, 8) s(i)),
         cand AS (
           SELECT DISTINCT p.query_id, a.vec_id
           FROM probes p JOIN idx a USING (list_id)),
         recon AS (
           SELECT c.vec_id, cb.sub * 8 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         scored AS (
           SELECT cand.query_id, cand.vec_id,
                  round(sum(r.w * qv.val::DOUBLE), 6) AS sim
           FROM cand JOIN recon r ON r.vec_id = cand.vec_id
                     JOIN qv ON qv.query_id = cand.query_id
                            AND qv.dim = r.dim
           GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, vec_id, sim, row_number() OVER (
             PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL),
         ch AS (
           SELECT vec_id, doc_id, chunk_idx, md5(chunk_text) AS chunk_md5
           FROM read_parquet('/root/repo/spark-warehouse/q135_ret/chunks/*.parquet'))
         SELECT r.query_id::BIGINT AS query_id, r.rk::INTEGER AS rk,
                ch.doc_id, ch.chunk_idx, ch.chunk_md5, r.sim
         FROM ranked r JOIN ch ON ch.vec_id = r.vec_id
         WHERE r.rk <= 5 ORDER BY query_id, rk""",
    // Lexical index serve: df/idf/avgdl and every score recomputed
    // from the WRITTEN postings + additive stats files (write+append
    // batches sum), same float-parity constant forms as q103/q134.
    "q136_bm25_index_serve" ->
      """WITH posts AS (
           SELECT id, term, tf, dl
           FROM read_parquet('/root/repo/spark-warehouse/q136_lex/postings/term_bucket=*/*.parquet', hive_partitioning=true)),
         st AS (
           SELECT sum(n_docs)::DOUBLE AS n,
                  sum(sum_dl) / sum(n_docs) AS avgdl
           FROM read_parquet('/root/repo/spark-warehouse/q136_lex/stats/*.parquet')),
         q AS (
           SELECT * FROM (VALUES
             (0, 'vector'), (0, 'window'), (0, 'merge'),
             (1, 'stream'), (1, 'window'),
             (2, 'vector'), (2, 'stream')) AS t(qid, term)),
         tf AS (
           SELECT p.id, p.term, p.tf, p.dl
           FROM posts p JOIN (SELECT DISTINCT term FROM q) u
             ON u.term = p.term),
         df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
         idf AS (
           SELECT term,
                  ln(1.0 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5))
                    AS idf
           FROM df),
         contrib AS (
           SELECT q.qid, tf.id,
                  idf.idf * (tf.tf * (1.2 + 1)) /
                    (tf.tf + 1.2 * (1.0 - 0.75 +
                      0.75 * tf.dl / (SELECT avgdl FROM st))) AS c
           FROM tf JOIN idf ON idf.term = tf.term
                   JOIN q ON q.term = tf.term),
         sc AS (
           SELECT qid, id, count(*)::BIGINT AS n_terms_hit,
                  round(sum(c), 4) AS score
           FROM contrib GROUP BY 1, 2),
         ranked AS (
           SELECT qid, id, n_terms_hit, score, row_number() OVER (
             PARTITION BY qid ORDER BY score DESC, id) AS rk
           FROM sc QUALIFY rk <= 12)
         SELECT qid::BIGINT AS query_id, rk::INTEGER AS rk, id AS doc_id,
                n_terms_hit, score
         FROM ranked ORDER BY query_id, rk""",
    // host cap: the md5-of-id lottery ranked per host, cap 7 — the
    // survivor set pinned exactly by count + id sum
    "q137_host_cap" ->
      """WITH r AS (
           SELECT doc_id, source AS host, row_number() OVER (
             PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         SELECT host, count(*) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM r WHERE rk <= 7 GROUP BY 1 ORDER BY 1""",
    // RM3: base ranking, feedback relevance model, 8-dp term cut,
    // weight mixing, and the weighted rescore all replayed
    "q138_rm3_expansion" ->
      """WITH toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS l,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                  END AS dl
           FROM documents),
         stats AS (
           SELECT count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl
           FROM toks),
         q AS (
           SELECT * FROM (VALUES
             (0, 'vector'), (0, 'window'),
             (1, 'stream'), (1, 'merge')) AS t(qid, term)),
         posts AS (SELECT doc_id, dl, unnest(l) AS term FROM toks),
         tf0 AS (
           SELECT p.doc_id, p.term, count(*)::BIGINT AS tf,
                  max(p.dl)::DOUBLE AS dl
           FROM posts p JOIN (SELECT DISTINCT term FROM q) u
             ON u.term = p.term
           GROUP BY 1, 2),
         df0 AS (SELECT term, count(*)::DOUBLE AS df FROM tf0 GROUP BY 1),
         idf0 AS (
           SELECT term,
                  ln(1.0 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))
                    AS idf
           FROM df0),
         c0 AS (
           SELECT q.qid, tf0.doc_id,
                  idf0.idf * (tf0.tf * (1.2 + 1)) /
                    (tf0.tf + 1.2 * (1.0 - 0.75 +
                      0.75 * tf0.dl / (SELECT avgdl FROM stats))) AS c
           FROM tf0 JOIN idf0 ON idf0.term = tf0.term
                    JOIN q ON q.term = tf0.term),
         s0 AS (
           SELECT qid, doc_id, round(sum(c), 4) AS score
           FROM c0 GROUP BY 1, 2),
         top AS (
           SELECT qid, doc_id FROM (
             SELECT qid, doc_id, row_number() OVER (
               PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
             FROM s0)
           WHERE rk <= 4),
         rel0 AS (
           SELECT t.qid, p.term, sum(1.0 / p.dl) AS relsum
           FROM posts p JOIN top t ON t.doc_id = p.doc_id
           WHERE p.dl > 0 AND p.term <> ''
           GROUP BY 1, 2),
         ntop AS (
           SELECT qid, count(DISTINCT doc_id)::DOUBLE AS n_top
           FROM top GROUP BY 1),
         rel AS (
           SELECT r.qid, r.term, round(r.relsum / n.n_top, 8) AS rel
           FROM rel0 r JOIN ntop n USING (qid)),
         sel AS (
           SELECT qid, term, rel FROM (
             SELECT qid, term, rel, row_number() OVER (
               PARTITION BY qid ORDER BY rel DESC, term) AS trk
             FROM rel)
           WHERE trk <= 6),
         reltot AS (SELECT qid, sum(rel) AS rel_tot FROM sel GROUP BY 1),
         expw AS (
           SELECT s.qid, s.term, (1.0 - 0.5) * s.rel / rt.rel_tot AS w
           FROM sel s JOIN reltot rt USING (qid)),
         norig AS (SELECT qid, count(*)::DOUBLE AS n_orig FROM q GROUP BY 1),
         origw AS (
           SELECT q.qid, q.term, 0.5 / n.n_orig AS w
           FROM q JOIN norig n USING (qid)),
         mixed AS (
           SELECT qid, term, sum(w) AS w FROM (
             SELECT * FROM origw UNION ALL SELECT * FROM expw)
           GROUP BY 1, 2),
         tfm AS (
           SELECT p.doc_id, p.term, count(*)::BIGINT AS tf,
                  max(p.dl)::DOUBLE AS dl
           FROM posts p JOIN (SELECT DISTINCT term FROM mixed) u
             ON u.term = p.term
           GROUP BY 1, 2),
         dfm AS (SELECT term, count(*)::DOUBLE AS df FROM tfm GROUP BY 1),
         idfm AS (
           SELECT term,
                  ln(1.0 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))
                    AS idf
           FROM dfm),
         cm AS (
           SELECT m.qid, tfm.doc_id,
                  m.w * (idfm.idf * (tfm.tf * (1.2 + 1)) /
                    (tfm.tf + 1.2 * (1.0 - 0.75 +
                      0.75 * tfm.dl / (SELECT avgdl FROM stats)))) AS c
           FROM tfm JOIN idfm ON idfm.term = tfm.term
                    JOIN mixed m ON m.term = tfm.term),
         sm AS (
           SELECT qid, doc_id, count(*)::BIGINT AS n_terms_hit,
                  round(sum(c), 4) AS score
           FROM cm GROUP BY 1, 2),
         fin AS (
           SELECT qid, doc_id, n_terms_hit, score, row_number() OVER (
             PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
           FROM sm QUALIFY rk <= 10)
         SELECT qid::BIGINT AS query_id, rk::INTEGER AS rk, doc_id,
                n_terms_hit, score
         FROM fin ORDER BY query_id, rk""",
    // TF-IDF hashed buckets: md5 bucket/sign + exact corpus stats
    "q139_tfidf_embedding" ->
      """WITH sub AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 9 = 4),
         w AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
           FROM sub),
         w2 AS (SELECT doc_id, t FROM w WHERE length(t) > 0),
         tf AS (
           SELECT doc_id, t, count(*)::BIGINT AS tf FROM w2 GROUP BY 1, 2),
         dfq AS (
           SELECT t, count(DISTINCT doc_id)::BIGINT AS df
           FROM w2 GROUP BY 1),
         n AS (SELECT count(*)::DOUBLE AS n_docs FROM sub),
         h AS (
           SELECT tf.doc_id,
                  CAST(('0x' || substr(md5(tf.t), 1, 8))::BIGINT % 64
                       AS INTEGER) AS bucket,
                  CASE WHEN substr(md5(tf.t), 9, 1) < '8'
                       THEN 1.0 ELSE -1.0 END AS sgn,
                  tf.tf, dfq.df
           FROM tf JOIN dfq USING (t))
         SELECT doc_id, bucket,
                round(sum(sgn * tf * ln((SELECT n_docs FROM n) / df)), 6)
                  AS v
         FROM h GROUP BY 1, 2 ORDER BY 1, 2""",
    // Count-Min contract: exact counts replayed, guarantees asserted
    "q142_count_min" ->
      """WITH toks AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
           FROM documents),
         tok2 AS (SELECT t FROM toks WHERE t <> ''),
         ex AS (SELECT t, count(*) AS exact FROM tok2 GROUP BY 1),
         p AS (
           SELECT unnest(['merge', 'stream', 'vector', 'window',
             'zzzznothing']) AS t)
         SELECT p.t, CAST(COALESCE(ex.exact, 0) AS BIGINT) AS exact,
                TRUE AS never_under, TRUE AS bounded_over
         FROM p LEFT JOIN ex ON ex.t = p.t ORDER BY p.t""",
    // n-gram novelty: the q76 gram machinery (short docs contribute
    // one whole-text gram — greatest(len-8, 0)) + distinct-per-doc +
    // left-join fraction
    "q141_ngram_novelty" ->
      """WITH ctoks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents WHERE doc_id % 5 = 2),
         cgrams AS (
           SELECT DISTINCT doc_id,
                  array_to_string(list_slice(toks, st + 1, st + 8), ' ') AS g
           FROM (SELECT doc_id, toks,
                        unnest(generate_series(0,
                          greatest(len(toks) - 8, 0), 1)) AS st
                 FROM ctoks)),
         rgrams AS (
           SELECT DISTINCT
                  array_to_string(list_slice(toks, st + 1, st + 8), ' ') AS g
           FROM (SELECT toks,
                        unnest(generate_series(0,
                          greatest(len(toks) - 8, 0), 1)) AS st
                 FROM (SELECT string_split_regex(lower(trim(text)), '\s+')
                         AS toks
                       FROM documents WHERE doc_id % 10 = 2))),
         joined AS (
           SELECT c.doc_id, c.g, r.g AS rg
           FROM cgrams c LEFT JOIN rgrams r ON r.g = c.g)
         SELECT doc_id, count(*) AS n_grams,
                round(CAST(sum(CASE WHEN rg IS NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*), 6) AS novelty
         FROM joined GROUP BY 1 ORDER BY 1""",
    // MMR: the greedy unrolled — pick 1 is pure relevance, picks 2/3
    // subtract the running max pairwise similarity; all inputs
    // 6-dp rounded, constants written as the same IEEE arithmetic
    // Spark evaluates (1.0 - 0.7, never 0.3)
    "q140_mmr_rerank" ->
      """WITH qv AS (
           SELECT vec_id AS qid, embedding FROM embeddings
           WHERE vec_id < 2),
         cv AS (
           SELECT vec_id AS vid, embedding FROM embeddings
           WHERE vec_id BETWEEN 10 AND 17),
         cand AS (
           SELECT q.qid, c.vid,
                  round(list_cosine_similarity(c.embedding::DOUBLE[],
                    q.embedding::DOUBLE[]), 6) AS rel
           FROM qv q, cv c),
         sims AS (
           SELECT a.vid AS v1, b.vid AS v2,
                  round(list_cosine_similarity(a.embedding::DOUBLE[],
                    b.embedding::DOUBLE[]), 6) AS s
           FROM cv a, cv b),
         p1 AS (
           SELECT qid, vid, 0.7 * rel AS mmr FROM (
             SELECT qid, vid, rel, row_number() OVER (
               PARTITION BY qid ORDER BY 0.7 * rel DESC, vid) AS r
             FROM cand) WHERE r = 1),
         m1 AS (
           SELECT c.qid, c.vid, c.rel, s.s AS ms
           FROM cand c JOIN p1 ON p1.qid = c.qid
                JOIN sims s ON s.v1 = c.vid AND s.v2 = p1.vid
           WHERE c.vid <> p1.vid),
         p2 AS (
           SELECT qid, vid, mmr FROM (
             SELECT qid, vid, 0.7 * rel - (1.0 - 0.7) * ms AS mmr,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY 0.7 * rel - (1.0 - 0.7) * ms DESC, vid) AS r
             FROM m1) WHERE r = 1),
         m2 AS (
           SELECT m1.qid, m1.vid, m1.rel, greatest(m1.ms, s.s) AS ms
           FROM m1 JOIN p2 ON p2.qid = m1.qid
                JOIN sims s ON s.v1 = m1.vid AND s.v2 = p2.vid
           WHERE m1.vid <> p2.vid),
         p3 AS (
           SELECT qid, vid, mmr FROM (
             SELECT qid, vid, 0.7 * rel - (1.0 - 0.7) * ms AS mmr,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY 0.7 * rel - (1.0 - 0.7) * ms DESC, vid) AS r
             FROM m2) WHERE r = 1)
         SELECT qid::BIGINT AS query_id, rk::INTEGER AS rk,
                vid AS vec_id, round(mmr, 6) AS mmr_score
         FROM (
           SELECT qid, 1 AS rk, vid, mmr FROM p1
           UNION ALL SELECT qid, 2, vid, mmr FROM p2
           UNION ALL SELECT qid, 3, vid, mmr FROM p3)
         ORDER BY query_id, rk""",
    // index deletion: serving replayed from the WRITTEN files alone —
    // postings anti-joined against the tombstone parquet, additive
    // stats minus the exact doclens∩tombstones aggregate (every dl is
    // an integral double, so the subtraction is exact)
    "q143_bm25_index_delete" ->
      """WITH tomb AS (
           SELECT DISTINCT id
           FROM read_parquet('/root/repo/spark-warehouse/q143_lex/tombstones/*.parquet')),
         posts AS (
           SELECT id, term, tf, dl
           FROM read_parquet('/root/repo/spark-warehouse/q143_lex/postings/term_bucket=*/*.parquet', hive_partitioning=true)
           WHERE id NOT IN (SELECT id FROM tomb)),
         delstat AS (
           SELECT count(*)::DOUBLE AS dn, coalesce(sum(dl), 0)::DOUBLE AS ds
           FROM (SELECT DISTINCT id, dl
                 FROM read_parquet('/root/repo/spark-warehouse/q143_lex/doclens/*.parquet'))
           WHERE id IN (SELECT id FROM tomb)),
         base AS (
           SELECT sum(n_docs)::DOUBLE AS n0, sum(sum_dl)::DOUBLE AS s0
           FROM read_parquet('/root/repo/spark-warehouse/q143_lex/stats/*.parquet')),
         st AS (
           SELECT (base.n0 - delstat.dn) AS n,
                  (base.s0 - delstat.ds) / (base.n0 - delstat.dn) AS avgdl
           FROM base, delstat),
         q AS (
           SELECT * FROM (VALUES
             (0, 'vector'), (0, 'window'), (0, 'merge'),
             (1, 'stream'), (1, 'window'),
             (2, 'vector'), (2, 'stream')) AS t(qid, term)),
         tf AS (
           SELECT p.id, p.term, p.tf, p.dl
           FROM posts p JOIN (SELECT DISTINCT term FROM q) u
             ON u.term = p.term),
         df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
         idf AS (
           SELECT term,
                  ln(1.0 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5))
                    AS idf
           FROM df),
         contrib AS (
           SELECT q.qid, tf.id,
                  idf.idf * (tf.tf * (1.2 + 1)) /
                    (tf.tf + 1.2 * (1.0 - 0.75 +
                      0.75 * tf.dl / (SELECT avgdl FROM st))) AS c
           FROM tf JOIN idf ON idf.term = tf.term
                   JOIN q ON q.term = tf.term),
         sc AS (
           SELECT qid, id, count(*)::BIGINT AS n_terms_hit,
                  round(sum(c), 4) AS score
           FROM contrib GROUP BY 1, 2),
         ranked AS (
           SELECT qid, id, n_terms_hit, score, row_number() OVER (
             PARTITION BY qid ORDER BY score DESC, id) AS rk
           FROM sc QUALIFY rk <= 12)
         SELECT qid::BIGINT AS query_id, rk::INTEGER AS rk, id AS doc_id,
                n_terms_hit, score
         FROM ranked ORDER BY query_id, rk""",
    // training export: the whole layout replayed from the documents
    // table — md5 shuffle key, 16-bit shard prefix, per-shard
    // (key, id) cumsum, exact tiling arithmetic
    "q144_train_export" ->
      """WITH toks AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)),
                         '\s+'))
                  END AS dl
           FROM documents),
         keyed AS (
           SELECT doc_id, CAST(dl AS BIGINT) AS dl,
                  md5(CAST(doc_id AS VARCHAR) || 'ep0') AS k
           FROM toks WHERE dl >= 1),
         sharded AS (
           SELECT doc_id, dl, k,
                  ('0x' || substr(k, 1, 4))::BIGINT % 32 AS shard
           FROM keyed),
         off AS (
           SELECT shard, doc_id, dl,
                  CAST(coalesce(sum(dl) OVER (PARTITION BY shard
                    ORDER BY k, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS st
           FROM sharded),
         frag AS (
           SELECT shard, doc_id, dl, st,
                  unnest(generate_series(st // 64, (st + dl - 1) // 64))
                    AS seq_id
           FROM off)
         SELECT shard, seq_id, doc_id,
                greatest(seq_id * 64 - st, 0) AS doc_offset,
                greatest(st - seq_id * 64, 0) AS seq_offset,
                least(st + dl, (seq_id + 1) * 64) -
                  greatest(st, seq_id * 64) AS n_toks
         FROM frag WHERE shard < 3 ORDER BY shard, seq_id, doc_id""",
    // best-representative dedup: recursive-CTE components over the
    // materialized edges + the q21 per-doc quality arithmetic + the
    // argmax replayed as a rank window; id sums pin the survivor set
    "q145_best_rep_dedup" ->
      """WITH RECURSIVE sym AS (
           SELECT id_a AS u, id_b AS v
           FROM read_parquet('/root/repo/spark-warehouse/q145_edges/*.parquet')
           UNION
           SELECT id_b, id_a
           FROM read_parquet('/root/repo/spark-warehouse/q145_edges/*.parquet')),
         nodes AS (SELECT DISTINCT u AS id FROM sym),
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT sym.v, walk.comp FROM walk JOIN sym ON sym.u = walk.id),
         labels AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
         q AS (
           SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\s+') AS toks,
             length(text) AS n,
             length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS np
           FROM documents),
         r AS (
           SELECT doc_id, source,
             (CASE WHEN n BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE len(list_filter(toks, t -> t IN
                    ('the','and','of','to','a','in','is','that')))::double
                    / len(toks) END) >= 0.01
                  THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE list_sum(list_transform(toks, w -> length(w)))::double
                    / len(toks) END)
                  BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN n = 0 THEN 0.0
                  ELSE np::double / n END) <= 0.1
                  THEN 0.25 ELSE 0.0 END) AS s
           FROM q),
         lab AS (
           SELECT r.doc_id, r.source, r.s,
                  coalesce(l.component, r.doc_id) AS component
           FROM r LEFT JOIN labels l ON l.id = r.doc_id),
         keep AS (
           SELECT doc_id, source FROM (
             SELECT doc_id, source, row_number() OVER (
               PARTITION BY component ORDER BY s DESC, doc_id) AS rk
             FROM lab) WHERE rk = 1)
         SELECT source, count(*) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM keep GROUP BY 1 ORDER BY 1""",
    // line-language segmentation: per-line langId (the q22 chain), the
    // rank-difference run grouping, and ordered reassembly
    "q146_line_lang_segments" ->
      """WITH m AS (
           SELECT doc_id, text || chr(10) ||
             'el que la de y los en un' || chr(10) ||
             'la de el que y un en los' || chr(10) ||
             'der und die das von ist mit den' || chr(10) || text
               AS mtext
           FROM documents WHERE doc_id % 7 = 3),
         lines AS (
           SELECT doc_id,
                  generate_subscripts(string_split(mtext, chr(10)), 1) - 1
                    AS pos,
                  unnest(string_split(mtext, chr(10))) AS line
           FROM m),
         lt AS (
           SELECT doc_id, pos, line,
                  string_split_regex(lower(trim(line)), '\s+') AS toks
           FROM lines),
         h AS (
           SELECT doc_id, pos, line,
             len(list_filter(toks, t -> t IN ('der','die','und','das','ist','von','mit','den'))) AS h_de,
             len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','that'))) AS h_en,
             len(list_filter(toks, t -> t IN ('el','la','de','que','y','los','en','un'))) AS h_es,
             len(list_filter(toks, t -> t IN ('le','la','les','des','est','une','dans','et'))) AS h_fr,
             len(list_filter(toks, t -> t IN ('า','น','ร','เ','อ','ก','ง','ม'))) AS h_th,
             len(list_filter(toks, t -> t IN ('的','是','在','了','和','有','我','不'))) AS h_zh
           FROM lt),
         langed AS (
           SELECT doc_id, pos, line, CASE
               WHEN h_de + h_en + h_es + h_fr + h_th + h_zh = 0 THEN 'und'
               WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_th AND h_de >= h_zh THEN 'de'
               WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_th AND h_en >= h_zh THEN 'en'
               WHEN h_es >= h_fr AND h_es >= h_th AND h_es >= h_zh THEN 'es'
               WHEN h_fr >= h_th AND h_fr >= h_zh THEN 'fr'
               WHEN h_th >= h_zh THEN 'th'
               ELSE 'zh' END AS lang
           FROM h),
         grp AS (
           SELECT doc_id, pos, line, lang,
                  pos - row_number() OVER (PARTITION BY doc_id, lang
                    ORDER BY pos) AS g
           FROM langed),
         segs AS (
           SELECT doc_id, lang, g, min(pos) AS st,
                  count(*) AS n_lines,
                  string_agg(line, chr(10) ORDER BY pos) AS seg_text
           FROM grp GROUP BY 1, 2, 3)
         SELECT doc_id, row_number() OVER (PARTITION BY doc_id
                  ORDER BY st)::INTEGER AS seg_idx,
                lang, n_lines, md5(seg_text) AS seg_md5,
                length(seg_text) AS n_chars
         FROM segs ORDER BY doc_id, seg_idx""",
    // hard-negative mining: cosine scoring, positive exclusion, top-k,
    // and the round-robin triplet pairing all replayed relationally
    "q147_hard_negatives" ->
      """WITH q AS (
           SELECT vec_id AS query_id, embedding AS qv, label AS ql
           FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2500),
         sc AS (
           SELECT q.query_id,
                  e.vec_id,
                  list_cosine_similarity(e.embedding::DOUBLE[],
                                         q.qv::DOUBLE[]) AS sim,
                  e.label, q.ql
           FROM embeddings e CROSS JOIN q),
         neg AS (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM sc WHERE NOT (label = ql AND vec_id < 2500)),
         pos AS (
           SELECT query_id, vec_id AS pos_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY vec_id) - 1 AS pidx,
                  count(*) OVER (PARTITION BY query_id) AS np
           FROM sc WHERE label = ql AND vec_id < 2500)
         SELECT n.query_id, p.pos_id, n.vec_id AS neg_id,
                n.rk::INTEGER AS neg_rk, n.sim AS neg_sim
         FROM neg n JOIN pos p
           ON n.query_id = p.query_id AND (n.rk - 1) % p.np = p.pidx
         WHERE n.rk <= 5
         ORDER BY n.query_id, n.rk""",
    // batch sessionization: the gaps-and-islands boundary flag, running
    // session counter, and per-session roll-up replayed relationally
    "q148_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_ms(ts) AS ms, value
           FROM events),
         l AS (
           SELECT user_id, event_id, ms, value,
                  CASE WHEN lag(ms) OVER w IS NULL
                         OR ms - lag(ms) OVER w > 43200000
                       THEN 1 ELSE 0 END AS nw
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
         s AS (
           SELECT user_id, ms, value,
                  CAST(sum(nw) OVER (PARTITION BY user_id
                    ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING)
                    AS INTEGER) AS session_idx
           FROM l)
         SELECT user_id, session_idx, min(ms) AS start_ms,
                max(ms) AS end_ms, CAST(count(*) AS INTEGER) AS n_events,
                sum(value) AS total_value
         FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""",
    // vocabulary coverage: top-200 vocab build, per-(source, word)
    // pre-aggregation, and the OOV roll-up replayed relationally
    "q149_vocab_coverage" ->
      """WITH w AS (
           SELECT source,
                  unnest(string_split_regex(lower(trim(text)), '\s+'))
                    AS token
           FROM documents),
         wf AS (SELECT source, token FROM w WHERE token <> ''),
         vocab AS (
           SELECT token FROM (
             SELECT token, count(*) AS c FROM wf GROUP BY 1
             ORDER BY c DESC, token LIMIT 200)),
         c AS (SELECT source, token, count(*) AS cnt
               FROM wf GROUP BY 1, 2),
         j AS (SELECT c.source, c.cnt,
                      CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
               FROM c LEFT JOIN vocab v USING (token))
         SELECT source,
                CAST(sum(cnt) AS BIGINT) AS n_tokens,
                count(*) AS n_types,
                CAST(sum(cnt * oov) AS BIGINT) AS oov_tokens,
                CAST(sum(oov) AS BIGINT) AS oov_types,
                CAST(sum(cnt * oov) AS DOUBLE) / sum(cnt)
                  AS oov_token_rate,
                CAST(sum(oov) AS DOUBLE) / count(*) AS oov_type_rate
         FROM j GROUP BY 1 ORDER BY source""",
    // takedown blast radius: the q144 export-layout arithmetic
    // extended with the doomed-doc lineage roll-up
    "q150_takedown_blast_radius" ->
      """WITH toks AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)),
                         '\s+'))
                  END AS dl
           FROM documents),
         keyed AS (
           SELECT doc_id, CAST(dl AS BIGINT) AS dl,
                  md5(CAST(doc_id AS VARCHAR) || 'ep0') AS k
           FROM toks WHERE dl >= 1),
         sharded AS (
           SELECT doc_id, dl, k,
                  ('0x' || substr(k, 1, 4))::BIGINT % 32 AS shard
           FROM keyed),
         off AS (
           SELECT shard, doc_id, dl,
                  CAST(coalesce(sum(dl) OVER (PARTITION BY shard
                    ORDER BY k, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS st
           FROM sharded),
         frag AS (
           SELECT shard, doc_id, st, dl,
                  unnest(generate_series(st // 64, (st + dl - 1) // 64))
                    AS seq_id
           FROM off),
         fr AS (
           SELECT shard, seq_id,
                  least(st + dl, (seq_id + 1) * 64) -
                    greatest(st, seq_id * 64) AS n_toks,
                  CASE WHEN doc_id % 13 = 5 THEN 1 ELSE 0 END AS dm
           FROM frag)
         SELECT shard, seq_id,
                CAST(sum(dm) AS BIGINT) AS doomed_docs,
                CAST(sum(dm * n_toks) AS BIGINT) AS doomed_toks,
                CAST(sum(n_toks) AS BIGINT) AS seq_toks,
                CAST(sum(dm * n_toks) AS DOUBLE) / sum(n_toks)
                  AS doomed_frac
         FROM fr GROUP BY 1, 2 HAVING sum(dm) > 0
         ORDER BY shard, seq_id""",
    // edit-distance near-dup verify: the normalized-Levenshtein stage
    // replayed over the dumped candidates with DuckDB's levenshtein
    "q151_edit_similarity" ->
      """WITH cand AS (
           SELECT id_a, id_b
           FROM read_parquet('/root/repo/spark-warehouse/q151_cands/*.parquet')),
         h AS (
           SELECT doc_id, substring(text, 1, 2000) AS head
           FROM documents),
         sim AS (
           SELECT c.id_a, c.id_b,
                  1.0 - levenshtein(ha.head, hb.head)::DOUBLE /
                    greatest(length(ha.head), length(hb.head), 1)
                    AS edit_sim
           FROM cand c
           JOIN h ha ON ha.doc_id = c.id_a
           JOIN h hb ON hb.doc_id = c.id_b)
         SELECT id_a, id_b, edit_sim
         FROM sim WHERE edit_sim >= (1.0 - 0.5)
         ORDER BY id_a, id_b""",
    // retention cohorts: first-period cohorting, distinct activity,
    // and the triangle roll-up replayed relationally
    "q152_retention_cohorts" ->
      """WITH active AS (
           SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS period
           FROM events),
         cohorts AS (
           SELECT user_id, min(period) AS cohort_period
           FROM active GROUP BY 1),
         counts AS (
           SELECT c.cohort_period,
                  a.period - c.cohort_period AS period_offset,
                  count(*) AS n_users
           FROM active a JOIN cohorts c USING (user_id)
           GROUP BY 1, 2),
         sizes AS (
           SELECT cohort_period, n_users AS cohort_size
           FROM counts WHERE period_offset = 0)
         SELECT cohort_period, period_offset, n_users, cohort_size,
                CAST(n_users AS DOUBLE) / cohort_size AS retention_rate
         FROM counts JOIN sizes USING (cohort_period)
         ORDER BY cohort_period, period_offset""",
    // funnel conversion: the chain of strictly-after conditional
    // min-aggregations replayed relationally
    "q153_funnel" ->
      """WITH e AS (
           SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
         s1 AS (
           SELECT user_id, min(ms) AS ts_1
           FROM e WHERE event_type = 'view' GROUP BY 1),
         s2 AS (
           SELECT s1.user_id, s1.ts_1,
                  min(CASE WHEN e.ms > s1.ts_1 THEN e.ms END) AS ts_2
           FROM s1 LEFT JOIN e
             ON e.user_id = s1.user_id AND e.event_type = 'click'
           GROUP BY 1, 2),
         s3 AS (
           SELECT s2.user_id, s2.ts_1, s2.ts_2,
                  min(CASE WHEN e.ms > s2.ts_2 THEN e.ms END) AS ts_3
           FROM s2 LEFT JOIN e
             ON e.user_id = s2.user_id AND e.event_type = 'purchase'
           GROUP BY 1, 2, 3)
         SELECT user_id, ts_1, ts_2, ts_3 FROM s3 ORDER BY user_id""",
    // SCD-2 compaction: change flag, run counter, roll-up, and the
    // lead-based valid_to replayed relationally
    "q154_scd2_intervals" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
         f AS (
           SELECT user_id, us, event_type,
                  CASE WHEN lag(event_type) OVER w IS DISTINCT FROM
                            event_type
                       THEN 1 ELSE 0 END AS nw
           FROM e WINDOW w AS (PARTITION BY user_id
             ORDER BY us, event_type)),
         r AS (
           SELECT user_id, us, event_type,
                  sum(nw) OVER (PARTITION BY user_id
                    ORDER BY us, event_type
                    ROWS UNBOUNDED PRECEDING) AS run
           FROM f),
         runs AS (
           SELECT user_id, event_type, min(us) AS valid_from
           FROM r GROUP BY user_id, event_type, run)
         SELECT user_id, event_type, valid_from,
                lead(valid_from) OVER (PARTITION BY user_id
                  ORDER BY valid_from, event_type) AS valid_to
         FROM runs ORDER BY user_id, valid_from""",
    // weighted sampling without replacement: md5 uniforms, exponential
    // race keys, and the k-smallest selection replayed relationally
    "q155_weighted_sample" ->
      """WITH u AS (
           SELECT doc_id, source, n_chars,
                  (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ws0'),
                     1, 12))::BIGINT + 0.5) / 281474976710656.0 AS uu
           FROM documents WHERE n_chars > 0),
         k AS (
           SELECT doc_id, source, n_chars,
                  -ln(uu) / n_chars AS race_key
           FROM u)
         SELECT doc_id, source, n_chars, race_key
         FROM k ORDER BY race_key, doc_id LIMIT 100""",
    // content digest: row hash, bucketing, and all three order-free
    // fingerprints replayed relationally
    "q156_content_digest" ->
      """WITH h AS (
           SELECT md5(concat_ws(chr(1), CAST(doc_id AS VARCHAR), text,
                                source)) AS hh
           FROM documents),
         p AS (
           SELECT ('0x' || substr(hh, 1, 8))::BIGINT % 256 AS bucket,
                  ('0x' || substr(hh, 9, 12))::BIGINT AS h48,
                  ('0x' || substr(hh, 21, 8))::BIGINT AS h32
           FROM h)
         SELECT bucket, count(*) AS n_rows, bit_xor(h48) AS xor48,
                CAST(sum(h32) AS BIGINT) AS sum32
         FROM p GROUP BY 1 ORDER BY bucket""",
    // document roll-up: chunk scoring, top-20, per-doc max-sim, and
    // the doc rank replayed relationally
    "q157_doc_rollup" ->
      """WITH q AS (
           SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 5),
         sc AS (
           SELECT q.query_id, e.vec_id,
                  list_cosine_similarity(e.embedding::DOUBLE[],
                                         q.qv::DOUBLE[]) AS sim
           FROM embeddings e CROSS JOIN q),
         hits AS (
           SELECT query_id, vec_id, vec_id // 10 AS doc_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS crk
           FROM sc),
         pd AS (
           SELECT query_id, doc_id, max(sim) AS doc_sim,
                  count(*) AS n_chunks
           FROM hits WHERE crk <= 20 GROUP BY 1, 2),
         rk AS (
           SELECT query_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY doc_sim DESC, doc_id)::INTEGER AS rk,
                  doc_id, doc_sim, n_chunks
           FROM pd)
         SELECT query_id, rk, doc_id, doc_sim, n_chunks
         FROM rk WHERE rk <= 3 ORDER BY query_id, rk""",
    // retrieval eval: ranking, judgments, recall/MRR/nDCG replayed
    "q158_retrieval_eval" ->
      """WITH q AS (
           SELECT vec_id AS query_id, embedding AS qv, label AS ql
           FROM embeddings WHERE vec_id < 5),
         sc AS (
           SELECT q.query_id, e.vec_id,
                  list_cosine_similarity(e.embedding::DOUBLE[],
                                         q.qv::DOUBLE[]) AS sim,
                  e.label, q.ql
           FROM embeddings e CROSS JOIN q
           WHERE e.vec_id <> q.query_id),
         hits AS (
           SELECT query_id, vec_id AS doc_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM sc),
         rel AS (
           SELECT query_id, vec_id AS doc_id FROM sc WHERE label = ql),
         nr AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
         hr AS (
           SELECT h.query_id, count(*) AS n_hit, min(h.rk) AS minrk,
                  sum(1.0 / (ln(h.rk + 1.0) / ln(2.0))) AS dcg
           FROM hits h
           JOIN rel r ON r.query_id = h.query_id AND r.doc_id = h.doc_id
           WHERE h.rk <= 10 AND h.rk <= 20
           GROUP BY 1),
         ig AS (
           SELECT query_id,
                  sum(1.0 / (ln(i + 1.0) / ln(2.0))) AS idcg
           FROM (SELECT query_id,
                        unnest(generate_series(1, least(n_rel, 10)))
                          AS i
                 FROM nr) t
           GROUP BY 1)
         SELECT nr.query_id, nr.n_rel,
                coalesce(hr.n_hit, 0) AS n_hit,
                CAST(coalesce(hr.n_hit, 0) AS DOUBLE) / nr.n_rel
                  AS recall_at_k,
                coalesce(1.0 / hr.minrk, 0.0) AS mrr_at_k,
                coalesce(hr.dcg, 0.0) / ig.idcg AS ndcg_at_k
         FROM nr JOIN ig USING (query_id)
         LEFT JOIN hr USING (query_id)
         ORDER BY query_id""",
    // PR threshold sweep: binning, cumulative-from-top, and the
    // precision/recall/F1 arithmetic replayed relationally
    "q159_pr_curve" ->
      """WITH sc AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS label,
                  CAST(0.35 AS DOUBLE) *
                    (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) +
                  CAST(0.65 AS DOUBLE) *
                    ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) ||
                       'pr'), 1, 12))::BIGINT + 0.5) /
                     281474976710656.0) AS prob
           FROM documents),
         b AS (
           SELECT least(CAST(floor(prob * 20) AS INTEGER), 19) AS bin,
                  label
           FROM sc),
         g AS (
           SELECT bin, count(*) AS n,
                  CAST(sum(label) AS BIGINT) AS npos
           FROM b GROUP BY 1),
         c AS (
           SELECT bin,
                  CAST(sum(n) OVER (ORDER BY bin DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pred_pos,
                  CAST(sum(npos) OVER (ORDER BY bin DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp
           FROM g),
         tot AS (SELECT CAST(sum(npos) AS BIGINT) AS p FROM g),
         m AS (
           SELECT CAST(bin AS DOUBLE) / 20 AS threshold, pred_pos, tp,
                  CAST(tp AS DOUBLE) / pred_pos AS precision,
                  CAST(tp AS DOUBLE) / tot.p AS recall
           FROM c, tot)
         SELECT threshold, pred_pos, tp, precision, recall,
                CASE WHEN precision + recall > 0
                     THEN 2.0 * precision * recall /
                          (precision + recall)
                     ELSE 0.0 END AS f1
         FROM m ORDER BY threshold DESC""",
    // c-TF-IDF cluster labels: tokenize, tf, cluster-df, the
    // ln(nClusters/cdf) weighting, and the per-cluster rank replayed
    "q160_cluster_terms" ->
      """WITH terms AS (
           SELECT source AS cluster,
                  unnest(string_split_regex(lower(trim(text)), '\s+'))
                    AS term
           FROM documents),
         tf AS (
           SELECT cluster, term, count(*) AS tf
           FROM terms WHERE term <> '' GROUP BY 1, 2),
         cdf AS (SELECT term, count(*) AS cdf FROM tf GROUP BY 1),
         nc AS (SELECT count(DISTINCT cluster) AS nc FROM tf),
         sc AS (
           SELECT t.cluster, t.term, t.tf,
                  t.tf * ln(CAST(nc.nc AS DOUBLE) / c.cdf) AS score
           FROM tf t JOIN cdf c USING (term) CROSS JOIN nc),
         rk AS (
           SELECT cluster,
                  row_number() OVER (PARTITION BY cluster
                    ORDER BY score DESC, term)::INTEGER AS rk,
                  term, tf, score
           FROM sc)
         SELECT cluster, rk, term, tf, score
         FROM rk WHERE rk <= 5 ORDER BY cluster, rk""",
    // digest merge: the oracle digests the WHOLE table in one pass —
    // matching the Spark-side merge of two half-digests proves the
    // incremental-append property
    "q161_digest_merge" ->
      """WITH h AS (
           SELECT md5(concat_ws(chr(1), CAST(doc_id AS VARCHAR), text,
                                source)) AS hh
           FROM documents),
         p AS (
           SELECT ('0x' || substr(hh, 1, 8))::BIGINT % 256 AS bucket,
                  ('0x' || substr(hh, 9, 12))::BIGINT AS h48,
                  ('0x' || substr(hh, 21, 8))::BIGINT AS h32
           FROM h)
         SELECT bucket, count(*) AS n_rows, bit_xor(h48) AS xor48,
                CAST(sum(h32) AS BIGINT) AS sum32
         FROM p GROUP BY 1 ORDER BY bucket""",
    // SCD-2 lookup: the q154 interval build + a BETWEEN covering-
    // interval join (the engine's as-of composition must agree)
    "q162_scd2_lookup" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS us, event_type
           FROM events),
         f AS (
           SELECT user_id, us, event_type,
                  CASE WHEN lag(event_type) OVER w IS DISTINCT FROM
                            event_type
                       THEN 1 ELSE 0 END AS nw
           FROM e
           WINDOW w AS (PARTITION BY user_id
             ORDER BY us, event_type)),
         r AS (
           SELECT user_id, us, event_type,
                  sum(nw) OVER (PARTITION BY user_id
                    ORDER BY us, event_type
                    ROWS UNBOUNDED PRECEDING) AS run
           FROM f),
         runs AS (
           SELECT user_id, event_type, min(us) AS valid_from
           FROM r GROUP BY user_id, event_type, run),
         iv AS (
           SELECT user_id, event_type AS state, valid_from,
                  lead(valid_from) OVER (PARTITION BY user_id
                    ORDER BY valid_from, event_type) AS valid_to
           FROM runs),
         facts AS (
           SELECT user_id, event_id, us + 3600000000 AS fus FROM e)
         SELECT fa.user_id, fa.event_id, iv.state
         FROM facts fa LEFT JOIN iv
           ON iv.user_id = fa.user_id AND iv.valid_from <= fa.fus
              AND (iv.valid_to IS NULL OR fa.fus < iv.valid_to)
         ORDER BY fa.event_id""",
    // per-group weighted sampling: the exponential race ranked within
    // each source, replayed relationally
    "q163_weighted_sample_grouped" ->
      """WITH u AS (
           SELECT doc_id, source, n_chars,
                  (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'wg0'),
                     1, 12))::BIGINT + 0.5) / 281474976710656.0 AS uu
           FROM documents WHERE n_chars > 0),
         k AS (
           SELECT doc_id, source, n_chars,
                  -ln(uu) / n_chars AS race_key
           FROM u),
         rk AS (
           SELECT doc_id, source, n_chars, race_key,
                  row_number() OVER (PARTITION BY source
                    ORDER BY race_key, doc_id) AS r
           FROM k)
         SELECT doc_id, source, n_chars, race_key
         FROM rk WHERE r <= 10
         ORDER BY source, race_key, doc_id""",
    // snippet extraction: query-term matching, the densest-window
    // self-join, the (count desc, pos) tie rule, and the token-slice
    // reassembly replayed relationally
    "q164_snippets" ->
      """WITH toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS arr
           FROM documents),
         queries AS (
           SELECT (doc_id - 1) // 37 AS query_id,
                  array_to_string(arr[1:5], ' ') AS qtext
           FROM toks WHERE doc_id IN (1, 38, 75)),
         qterms AS (
           SELECT DISTINCT query_id,
                  unnest(string_split_regex(lower(trim(qtext)), '\s+'))
                    AS term
           FROM queries),
         hits AS (
           SELECT doc_id % 50 AS query_id, doc_id
           FROM documents WHERE doc_id % 50 < 3),
         pos AS (
           SELECT t.doc_id,
                  generate_subscripts(t.arr, 1) - 1 AS p,
                  unnest(t.arr) AS term
           FROM toks t
           WHERE t.doc_id IN (SELECT doc_id FROM hits)),
         m AS (
           SELECT h.query_id, p.doc_id, p.p
           FROM pos p
           JOIN qterms q ON q.term = p.term
           JOIN hits h ON h.query_id = q.query_id
             AND h.doc_id = p.doc_id
           WHERE p.term <> ''),
         wc AS (
           SELECT a.query_id, a.doc_id, a.p,
                  count(*) AS n_matched
           FROM m a JOIN m b
             ON b.query_id = a.query_id AND b.doc_id = a.doc_id
             AND b.p >= a.p AND b.p < a.p + 12
           GROUP BY 1, 2, 3),
         best AS (
           SELECT query_id, doc_id, p, n_matched,
                  row_number() OVER (PARTITION BY query_id, doc_id
                    ORDER BY n_matched DESC, p) AS rk
           FROM wc)
         SELECT b.query_id, b.doc_id, CAST(b.p AS INTEGER) AS snip_start,
                b.n_matched,
                md5(array_to_string(t.arr[b.p + 1 : b.p + 12], ' '))
                  AS snip_md5
         FROM best b JOIN toks t ON t.doc_id = b.doc_id
         WHERE b.rk = 1
         ORDER BY b.query_id, b.doc_id""",
    // rate anomalies: bucketing, trailing stats, z guards, and the
    // flag replayed relationally
    "q165_rate_anomalies" ->
      """WITH c AS (
           SELECT event_type, epoch_ms(ts) // 86400000 AS bucket,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, bucket, n,
                  count(n) OVER tw AS tn,
                  avg(n) OVER tw AS trail_mean,
                  stddev_samp(n) OVER tw AS trail_std
           FROM c
           WINDOW tw AS (PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         z AS (
           SELECT event_type, bucket, n, trail_mean, trail_std,
                  CASE WHEN tn >= 3 AND trail_std > 0
                       THEN (n - trail_mean) / trail_std END AS z
           FROM w)
         SELECT event_type, bucket, n, trail_mean, trail_std, z,
                CAST(coalesce(abs(z) >= 2.0, false) AS INTEGER)
                  AS is_anomaly
         FROM z ORDER BY event_type, bucket""",
    // PMI collocations: vocabulary pruning, banded co-occurrence,
    // unordered pair keys, and the PMI arithmetic replayed
    "q166_pmi_pairs" ->
      """WITH words AS (
           SELECT doc_id,
                  generate_subscripts(arr, 1) - 1 AS pos,
                  unnest(arr) AS term
           FROM (SELECT doc_id,
                        string_split_regex(lower(trim(text)), '\s+')
                          AS arr
                 FROM documents)),
         wf AS (SELECT doc_id, pos, term FROM words WHERE term <> ''),
         vocab AS (
           SELECT term FROM (
             SELECT term, count(*) AS c FROM wf GROUP BY 1
             ORDER BY c DESC, term LIMIT 100)),
         hits AS (
           SELECT w.doc_id, w.pos, w.term
           FROM wf w JOIN vocab v USING (term)),
         tot AS (SELECT count(*) AS N FROM hits),
         na AS (SELECT term, count(*) AS n_t FROM hits GROUP BY 1),
         pairs_all AS (
           SELECT least(a.term, b.term) AS term_a,
                  greatest(a.term, b.term) AS term_b,
                  count(*) AS n_ab
           FROM hits a JOIN hits b ON b.doc_id = a.doc_id
             AND b.pos > a.pos AND b.pos <= a.pos + 2
           GROUP BY 1, 2),
         -- P over ALL co-occurrences; the minCount floor only gates
         -- which rows are reported (matches TextFuncs.pmiPairs)
         pt AS (SELECT CAST(sum(n_ab) AS BIGINT) AS P FROM pairs_all),
         pairs AS (SELECT * FROM pairs_all WHERE n_ab >= 20)
         SELECT p.term_a, p.term_b, p.n_ab,
                ln((CAST(p.n_ab AS DOUBLE) / pt.P) /
                   ((CAST(na1.n_t AS DOUBLE) / tot.N) *
                    (CAST(na2.n_t AS DOUBLE) / tot.N))) AS pmi
         FROM pairs p
         JOIN na na1 ON na1.term = p.term_a
         JOIN na na2 ON na2.term = p.term_b
         CROSS JOIN pt CROSS JOIN tot
         ORDER BY term_a, term_b""",
    // blocklist matching: the per-pattern contains() decomposition —
    // concat_ws skips the null CASE arms in both engines, so the
    // matched list reassembles in pattern order exactly
    "q167_blocklist" ->
      """SELECT doc_id,
                CAST(contains(text, 'data') OR contains(text, 'err')
                  OR contains(text, 'qua') OR contains(text, 'zz')
                  OR contains(text, 'the') AS INTEGER) AS hit,
                (CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END +
                 CASE WHEN contains(text, 'err') THEN 1 ELSE 0 END +
                 CASE WHEN contains(text, 'qua') THEN 1 ELSE 0 END +
                 CASE WHEN contains(text, 'zz') THEN 1 ELSE 0 END +
                 CASE WHEN contains(text, 'the') THEN 1 ELSE 0 END)
                  AS n_terms,
                concat_ws(',',
                  CASE WHEN contains(text, 'data') THEN 'data' END,
                  CASE WHEN contains(text, 'err') THEN 'err' END,
                  CASE WHEN contains(text, 'qua') THEN 'qua' END,
                  CASE WHEN contains(text, 'zz') THEN 'zz' END,
                  CASE WHEN contains(text, 'the') THEN 'the' END)
                  AS terms
         FROM documents ORDER BY doc_id""",
    // Zipf fit: counts, head ranking, and the closed-form OLS replayed
    "q168_zipf_fit" ->
      """WITH w AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
             AS term
           FROM documents),
         c AS (
           SELECT term, count(*) AS c FROM w WHERE term <> ''
           GROUP BY 1 ORDER BY c DESC, term LIMIT 200),
         r AS (
           SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, term)
                  AS DOUBLE)) AS lx,
                  ln(CAST(c AS DOUBLE)) AS ly
           FROM c)
         SELECT count(*) AS n_points,
                covar_pop(lx, ly) / var_pop(lx) AS slope,
                avg(ly) - covar_pop(lx, ly) / var_pop(lx) * avg(lx)
                  AS intercept,
                corr(lx, ly) * corr(lx, ly) AS r2
         FROM r""",
    // Mixed-script BM25: planted unspaced-zh docs built via chr()
    // (质=36136 量=37327 数=25968 据=25454 测=27979 试=35797 好=22909),
    // tokenized with the SAME ideograph-isolating regexp_replace as
    // TextFuncs.tokens, then the full tf/df/idf/score/rank replay.
    "q169_bm25_cjk" ->
      """WITH docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 950000 AS doc_id,
                  chr(36136)||chr(37327) ||
                  repeat(chr(25968)||chr(25454), (doc_id % 4 + 1)::int) ||
                  chr(27979)||chr(35797)||chr(22909) AS text
           FROM documents WHERE doc_id < 30),
         toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+') AS l,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(regexp_replace(text,
                         '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                         ' \1 ', 'g'))), '\s+'))
                  END AS dl
           FROM docs2),
         stats AS (
           SELECT count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl
           FROM toks),
         q AS (
           SELECT 0 AS qid, 'vector' AS term
           UNION ALL SELECT 0, 'stream'
           UNION ALL SELECT 1, chr(25968)
           UNION ALL SELECT 1, chr(25454)
           UNION ALL SELECT 1, chr(27979)
           UNION ALL SELECT 1, chr(35797)),
         posts AS (SELECT doc_id, dl, unnest(l) AS term FROM toks),
         tf AS (
           SELECT p.doc_id, p.term, count(*)::BIGINT AS tf,
                  max(p.dl)::DOUBLE AS dl
           FROM posts p JOIN (SELECT DISTINCT term FROM q) u
             ON u.term = p.term
           GROUP BY 1, 2),
         df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
         idf AS (
           SELECT term,
                  ln(1.0 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))
                    AS idf
           FROM df),
         contrib AS (
           SELECT q.qid, tf.doc_id,
                  idf.idf * (tf.tf * (1.2 + 1)) /
                    (tf.tf + 1.2 * (1.0 - 0.75 +
                      0.75 * tf.dl / (SELECT avgdl FROM stats))) AS c
           FROM tf JOIN idf ON idf.term = tf.term
                   JOIN q ON q.term = tf.term),
         sc AS (
           SELECT qid, doc_id, count(*)::BIGINT AS n_terms_hit,
                  round(sum(c), 4) AS score
           FROM contrib GROUP BY 1, 2),
         ranked AS (
           SELECT qid, doc_id, n_terms_hit, score, row_number() OVER (
             PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
           FROM sc QUALIFY rk <= 10)
         SELECT qid::BIGINT AS query_id, rk::INTEGER AS rk, doc_id,
                n_terms_hit, score
         FROM ranked ORDER BY query_id, rk""",
    // tuning grid: RRF fusion, doc roll-up, recall/MRR/nDCG, and the
    // per-cell means all replayed from the dumped candidate rankings;
    // qrels re-derived closed-form from the documents base table
    "q170_hybrid_tuning" ->
      """WITH chunkmap AS (
           SELECT vec_id, doc_id
           FROM read_parquet('/root/repo/spark-warehouse/q170_chunkmap/*.parquet')),
         vec AS (
           SELECT 4 AS fetch_k, 2 AS nprobe, query_id, vec_id, rk
           FROM read_parquet('/root/repo/spark-warehouse/q170_vec_4_2/*.parquet')
           UNION ALL
           SELECT 4, 4, query_id, vec_id, rk
           FROM read_parquet('/root/repo/spark-warehouse/q170_vec_4_4/*.parquet')
           UNION ALL
           SELECT 8, 2, query_id, vec_id, rk
           FROM read_parquet('/root/repo/spark-warehouse/q170_vec_8_2/*.parquet')
           UNION ALL
           SELECT 8, 4, query_id, vec_id, rk
           FROM read_parquet('/root/repo/spark-warehouse/q170_vec_8_4/*.parquet')),
         lexx AS (
           SELECT l.fetch_k, np.nprobe, l.query_id, l.vec_id, l.rk
           FROM (SELECT 4 AS fetch_k, query_id, vec_id, rk
                 FROM read_parquet('/root/repo/spark-warehouse/q170_lex_4/*.parquet')
                 UNION ALL
                 SELECT 8, query_id, vec_id, rk
                 FROM read_parquet('/root/repo/spark-warehouse/q170_lex_8/*.parquet')) l
           CROSS JOIN (VALUES (2), (4)) np(nprobe)),
         cand AS (
           SELECT fetch_k, nprobe, query_id, vec_id,
                  v.rk AS ra, x.rk AS rb
           FROM vec v FULL JOIN lexx x
             USING (fetch_k, nprobe, query_id, vec_id)),
         scored AS (
           SELECT kk.rrf_k, c.fetch_k, c.nprobe, c.query_id, c.vec_id,
                  coalesce(1.0 / (kk.rrf_k + c.ra), 0.0) +
                  coalesce(1.0 / (kk.rrf_k + c.rb), 0.0) AS rrf
           FROM cand c CROSS JOIN (VALUES (20), (60)) kk(rrf_k)),
         topv AS (
           -- the fused cut is at FETCH_K (serving's output shape);
           -- the evalK = 4 cut applies later at DOC rank
           SELECT *, row_number() OVER (
             PARTITION BY fetch_k, nprobe, rrf_k, query_id
             ORDER BY rrf DESC, vec_id) AS frk
           FROM scored QUALIFY frk <= fetch_k),
         dochits AS (
           SELECT fetch_k, nprobe, rrf_k, query_id, doc_id,
                  min(frk) AS mr
           FROM topv JOIN chunkmap USING (vec_id)
           GROUP BY 1, 2, 3, 4, 5),
         ranked AS (
           SELECT *, row_number() OVER (
             PARTITION BY fetch_k, nprobe, rrf_k, query_id
             ORDER BY mr, doc_id) AS rk
           FROM dochits),
         base AS (
           SELECT doc_id, text FROM documents
           WHERE doc_id % 10 = 5 AND text IS NOT NULL),
         qrels AS (
           SELECT DISTINCT query_id, doc_id FROM (
             SELECT 0::BIGINT AS query_id, doc_id FROM base
             WHERE contains(text, 'vector') AND contains(text, 'merge')
             UNION ALL
             SELECT 1::BIGINT, doc_id FROM base
             WHERE contains(text, 'stream') AND contains(text, 'window'))),
         nrel AS (
           SELECT query_id, count(*) AS n_rel FROM qrels GROUP BY 1),
         cells AS (
           SELECT fk.fetch_k, np.nprobe, kk.rrf_k
           FROM (VALUES (4), (8)) fk(fetch_k)
           CROSS JOIN (VALUES (2), (4)) np(nprobe)
           CROSS JOIN (VALUES (20), (60)) kk(rrf_k)),
         hitrel AS (
           SELECT fetch_k, nprobe, rrf_k, r.query_id,
                  count(*) AS n_hit, min(rk) AS minrk,
                  sum(1.0 / (ln(rk + 1.0) / ln(2.0))) AS dcg
           FROM ranked r JOIN qrels q USING (query_id, doc_id)
           WHERE rk <= 4
           GROUP BY 1, 2, 3, 4),
         percell AS (
           SELECT c.fetch_k, c.nprobe, c.rrf_k, n.query_id, n.n_rel,
                  coalesce(h.n_hit, 0) AS n_hit, h.minrk, h.dcg
           FROM cells c CROSS JOIN nrel n
           LEFT JOIN hitrel h
             ON h.fetch_k = c.fetch_k AND h.nprobe = c.nprobe
             AND h.rrf_k = c.rrf_k AND h.query_id = n.query_id),
         evald AS (
           SELECT fetch_k, nprobe, rrf_k, query_id,
                  n_hit::DOUBLE / n_rel AS recall,
                  coalesce(1.0 / minrk, 0.0) AS mrr,
                  coalesce(dcg, 0.0) / list_sum(list_transform(
                    generate_series(1, least(n_rel, 4)),
                    i -> 1.0 / (ln(i + 1.0) / ln(2.0)))) AS ndcg
           FROM percell)
         SELECT fetch_k, nprobe, rrf_k,
                count(*) AS n_queries,
                round(avg(recall), 4) AS mean_recall,
                round(avg(mrr), 4) AS mean_mrr,
                round(avg(ndcg), 4) AS mean_ndcg
         FROM evald GROUP BY 1, 2, 3
         ORDER BY fetch_k, nprobe, rrf_k""",
    // exact prefix-filtered n-gram Jaccard join: every stage replayed
    // — 3-gram shingle sets (the wordNgrams HOF mirror), rarest-first
    // (df, gram) per-doc ranks, prefix cut n - ceil(t*n) + 1, prefix
    // co-occurrence + length filter, exact overlap verify
    // i / (na + nb - i)
    "q171_jaccard_join" ->
      """WITH tf AS (
           SELECT id, term FROM (
             SELECT doc_id AS id,
                    unnest(list_distinct(list_transform(
                      generate_series(1, greatest(len(l) - 2, 1)),
                      i -> array_to_string(
                             list_slice(l, i, i + 2), ' ')))) AS term
             FROM (SELECT doc_id,
                          string_split_regex(lower(trim(text)), '\s+')
                            AS l
                   FROM documents))
           WHERE term <> ''),
         dfx AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
         ranked AS (
           SELECT t.id, t.term, d.dfc,
                  count(*) OVER (PARTITION BY t.id) AS n,
                  row_number() OVER (PARTITION BY t.id
                    ORDER BY d.dfc, t.term) AS pos
           FROM tf t JOIN dfx d USING (term)),
         prefix AS (
           SELECT id, term, n FROM ranked
           WHERE pos <= n - ceil(CAST(0.5 AS DOUBLE) * n) + 1),
         cand AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM prefix a JOIN prefix b ON a.term = b.term
             AND a.id < b.id
             AND greatest(a.n, b.n) * CAST(0.5 AS DOUBLE)
                   <= least(a.n, b.n)),
         inter AS (
           SELECT c.id_a, c.id_b, count(*) AS i
           FROM cand c
           JOIN tf ta ON ta.id = c.id_a
           JOIN tf tb ON tb.id = c.id_b AND tb.term = ta.term
           GROUP BY 1, 2),
         nsz AS (SELECT id, count(*) AS n FROM tf GROUP BY 1)
         SELECT i.id_a, i.id_b,
                round(i.i::DOUBLE / (na.n + nb.n - i.i), 4) AS jaccard
         FROM inter i
         JOIN nsz na ON na.id = i.id_a
         JOIN nsz nb ON nb.id = i.id_b
         WHERE i.i::DOUBLE / (na.n + nb.n - i.i)
                 >= CAST(0.5 AS DOUBLE)
         ORDER BY id_a, id_b""",
    // char entropy: H = (ln n - sum(k ln k)/n) / ln 2 replayed from
    // per-(doc, char) counts
    "q172_char_entropy" ->
      """WITH ch AS (
           SELECT doc_id,
                  unnest(list_transform(generate_series(1, length(text)),
                    i -> substr(text, i, 1))) AS c
           FROM documents WHERE length(text) > 0),
         cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, CAST(sum(k) AS BIGINT) AS n,
                  sum(k * ln(k)) AS sklnk
           FROM cnt GROUP BY 1)
         SELECT doc_id, n AS n_chars,
                round((ln(n) - sklnk / n) / ln(CAST(2.0 AS DOUBLE)), 4)
                  AS char_entropy
         FROM agg ORDER BY doc_id""",
    // corpus data card: every metric replayed (q19/q20/q21/q22/q168/
    // q172 shapes) into the same tall table
    "q173_corpus_report" ->
      """WITH q AS (
           SELECT doc_id, text,
             string_split_regex(lower(trim(text)), '\s+') AS toks,
             length(text) AS n,
             length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
               AS np
           FROM documents),
         r AS (
           SELECT doc_id,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE len(list_filter(toks, t -> t IN
                    ('the','and','of','to','a','in','is','that')))::double
                    / len(toks)
             END AS stop_ratio,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE list_sum(list_transform(toks,
                    w -> length(w)))::double / len(toks)
             END AS mwl,
             CASE WHEN n = 0 THEN 0.0 ELSE np::double / n END AS punct,
             n FROM q),
         qual AS (
           SELECT avg((CASE WHEN n BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END) +
               (CASE WHEN stop_ratio >= 0.01 THEN 0.25 ELSE 0.0 END) +
               (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) +
               (CASE WHEN punct <= 0.1 THEN 0.25 ELSE 0.0 END)) AS v
           FROM r),
         scal AS (
           SELECT count(*)::DOUBLE AS n_docs,
                  count(DISTINCT md5(text))::DOUBLE AS n_unique,
                  CAST(sum(length(text)) AS DOUBLE) AS n_chars,
                  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(lower(trim(text)),
                        '\s+')) END) AS DOUBLE) AS n_tokens
           FROM documents),
         langh AS (
           SELECT 'lang:' || detected AS metric, n::DOUBLE AS value
           FROM (
             SELECT CASE
                 WHEN h_de + h_en + h_es + h_fr + h_th + h_zh = 0 THEN 'und'
                 WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_th AND h_de >= h_zh THEN 'de'
                 WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_th AND h_en >= h_zh THEN 'en'
                 WHEN h_es >= h_fr AND h_es >= h_th AND h_es >= h_zh THEN 'es'
                 WHEN h_fr >= h_th AND h_fr >= h_zh THEN 'fr'
                 WHEN h_th >= h_zh THEN 'th'
                 ELSE 'zh' END AS detected,
               count(*) AS n
             FROM (
               SELECT
                 len(list_filter(toks, t -> t IN ('der','die','und','das','ist','von','mit','den'))) AS h_de,
                 len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','that'))) AS h_en,
                 len(list_filter(toks, t -> t IN ('el','la','de','que','y','los','en','un'))) AS h_es,
                 len(list_filter(toks, t -> t IN ('le','la','les','des','est','une','dans','et'))) AS h_fr,
                 len(list_filter(toks, t -> t IN ('า','น','ร','เ','อ','ก','ง','ม'))) AS h_th,
                 len(list_filter(toks, t -> t IN ('的','是','在','了','和','有','我','不'))) AS h_zh
               FROM q)
             GROUP BY detected)),
         ent AS (
           SELECT avg(e) AS v FROM (
             SELECT (ln(n) - sklnk / n) / ln(CAST(2.0 AS DOUBLE)) AS e
             FROM (
               SELECT doc_id, CAST(sum(k) AS BIGINT) AS n,
                      sum(k * ln(k)) AS sklnk
               FROM (
                 SELECT doc_id, c, count(*) AS k FROM (
                   SELECT doc_id,
                          unnest(list_transform(
                            generate_series(1, length(text)),
                            i -> substr(text, i, 1))) AS c
                   FROM documents WHERE length(text) > 0)
                 GROUP BY 1, 2)
               GROUP BY 1))),
         zw AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
             AS term
           FROM documents),
         zc AS (
           SELECT term, count(*) AS c FROM zw WHERE term <> ''
           GROUP BY 1 ORDER BY c DESC, term LIMIT 200),
         zr AS (
           SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, term)
                  AS DOUBLE)) AS lx,
                  ln(CAST(c AS DOUBLE)) AS ly
           FROM zc),
         zf AS (
           SELECT covar_pop(lx, ly) / var_pop(lx) AS slope,
                  corr(lx, ly) * corr(lx, ly) AS r2
           FROM zr),
         card AS (
           SELECT 'n_docs' AS metric, n_docs AS value FROM scal
           UNION ALL SELECT 'n_unique_texts', n_unique FROM scal
           UNION ALL SELECT 'exact_dup_rate',
             CAST(1 AS DOUBLE) - n_unique / n_docs FROM scal
           UNION ALL SELECT 'n_chars', n_chars FROM scal
           UNION ALL SELECT 'n_tokens', n_tokens FROM scal
           UNION ALL SELECT 'mean_quality', v FROM qual
           UNION ALL SELECT metric, value FROM langh
           UNION ALL SELECT 'mean_char_entropy', v FROM ent
           UNION ALL SELECT 'zipf_slope', slope FROM zf
           UNION ALL SELECT 'zipf_r2', r2 FROM zf)
         SELECT metric, round(value, 4) AS value FROM card
         ORDER BY metric""",
    "q174_cluster_split" ->
      """WITH RECURSIVE sym AS (
           SELECT id_a AS u, id_b AS v
           FROM read_parquet('/root/repo/spark-warehouse/q174_edges/*.parquet')
           UNION
           SELECT id_b, id_a
           FROM read_parquet('/root/repo/spark-warehouse/q174_edges/*.parquet')),
         nodes AS (SELECT DISTINCT u AS id FROM sym),
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT sym.v, walk.comp FROM walk JOIN sym ON sym.u = walk.id),
         labels AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
         lab AS (
           SELECT d.doc_id,
                  coalesce(l.component, d.doc_id) AS component
           FROM documents d LEFT JOIN labels l ON l.id = d.doc_id)
         SELECT doc_id, component,
                CASE WHEN substring(md5('cluster-split:' ||
                       component::VARCHAR), 1, 2) < 'cd' THEN 'train'
                     WHEN substring(md5('cluster-split:' ||
                       component::VARCHAR), 1, 2) < 'e6' THEN 'val'
                     ELSE 'test' END AS split
         FROM lab ORDER BY doc_id""",
    "q175_tdigest_quantile" ->
      """SELECT source,
                round(quantile_cont(n_chars, 0.5), 4) AS p50_exact,
                round(quantile_cont(n_chars, 0.9), 4) AS p90_exact,
                TRUE AS p50_ok, TRUE AS p90_ok
         FROM documents GROUP BY source ORDER BY source""",
    "q176_interval_overlap" ->
      """WITH iv AS (
           SELECT user_id, event_id, event_type,
                  epoch_us(ts) AS s,
                  epoch_us(ts) + CAST(value * 60000000 AS BIGINT) AS e
           FROM events),
         a AS (SELECT * FROM iv WHERE event_type = 'click' AND e > s),
         b AS (SELECT * FROM iv WHERE event_type = 'error' AND e > s)
         SELECT a.user_id AS user_id, a.event_id AS id_a,
                b.event_id AS id_b,
                least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
         FROM a JOIN b ON a.user_id = b.user_id
                      AND a.s < b.e AND b.s < a.e
         ORDER BY a.user_id, id_a, id_b""",
    "q177_budget_mixture" ->
      """WITH q AS (
           SELECT source,
             string_split_regex(lower(trim(text)), '\s+') AS toks,
             length(text) AS n,
             length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
               AS np,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\s+'))
             END AS ntok
           FROM documents),
         r AS (
           SELECT source, ntok,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE len(list_filter(toks, t -> t IN
                    ('the','and','of','to','a','in','is','that')))::double
                    / len(toks)
             END AS stop_ratio,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE list_sum(list_transform(toks,
                    w -> length(w)))::double / len(toks)
             END AS mwl,
             CASE WHEN n = 0 THEN 0.0 ELSE np::double / n END AS punct,
             n FROM q),
         stats AS (
           SELECT source, count(*) AS n_docs,
             sum(ntok)::BIGINT AS n_tokens,
             round(avg(
               (CASE WHEN n BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END) +
               (CASE WHEN stop_ratio >= 0.01 THEN 0.25 ELSE 0.0 END) +
               (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) +
               (CASE WHEN punct <= 0.1 THEN 0.25 ELSE 0.0 END)), 6)
               AS quality
           FROM r GROUP BY source),
         alloc AS (
           SELECT source, n_docs, n_tokens, quality,
             least(n_tokens, 4000) AS cap,
             coalesce(sum(least(n_tokens, 4000)) OVER (
               ORDER BY quality DESC, source ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS bef
           FROM stats)
         SELECT source, n_docs, n_tokens, quality,
           least(cap, greatest(0, 20000 - bef))::BIGINT AS alloc_tokens,
           CASE WHEN n_tokens > 0
                THEN round(least(cap, greatest(0, 20000 - bef))::double
                  / n_tokens, 6)
                ELSE 0.0 END AS rate
         FROM alloc ORDER BY source""",
    "q178_zorder_key" ->
      """WITH s0 AS (
           SELECT p_partkey,
                  least(greatest(CAST(p_size AS BIGINT), 0), 65535) AS a,
                  least(greatest(p_partkey % 256, 0), 65535) AS b
           FROM part),
         s1 AS (SELECT p_partkey,
                  (a | (a << 16)) & 281470681808895 AS a,
                  (b | (b << 16)) & 281470681808895 AS b FROM s0),
         s2 AS (SELECT p_partkey,
                  (a | (a << 8)) & 71777214294589695 AS a,
                  (b | (b << 8)) & 71777214294589695 AS b FROM s1),
         s3 AS (SELECT p_partkey,
                  (a | (a << 4)) & 1085102592571150095 AS a,
                  (b | (b << 4)) & 1085102592571150095 AS b FROM s2),
         s4 AS (SELECT p_partkey,
                  (a | (a << 2)) & 3689348814741910323 AS a,
                  (b | (b << 2)) & 3689348814741910323 AS b FROM s3),
         s5 AS (SELECT p_partkey,
                  (a | (a << 1)) & 6148914691236517205 AS a,
                  (b | (b << 1)) & 6148914691236517205 AS b FROM s4)
         SELECT p_partkey, (a | (b << 1)) AS zval
         FROM s5 ORDER BY p_partkey""",
    "q179_robust_anomalies" ->
      """WITH c AS (
           SELECT event_type, epoch_ms(ts) // 86400000 AS bucket,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, bucket, n,
                  list(n) OVER tw AS hist
           FROM c
           WINDOW tw AS (PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         m AS (
           SELECT event_type, bucket, n, hist,
                  list_sort(hist)[(len(hist) + 1) // 2] AS trail_med
           FROM w),
         d AS (
           SELECT event_type, bucket, n, hist, trail_med,
                  list_sort(list_transform(hist,
                    x -> abs(x - trail_med)))[(len(hist) + 1) // 2]
                    AS trail_mad
           FROM m),
         z AS (
           SELECT event_type, bucket, n, trail_med, trail_mad,
                  CASE WHEN len(hist) >= 3 AND trail_mad > 0
                       THEN (n - trail_med) / (1.4826 * trail_mad)
                  END AS z
           FROM d)
         SELECT event_type, bucket, n, trail_med, trail_mad, z,
                CAST(coalesce(abs(z) >= 2.5, false) AS INTEGER)
                  AS is_anomaly
         FROM z ORDER BY event_type, bucket""",
    "q180_hits" ->
      """WITH e AS (
           SELECT DISTINCT doc_id AS src, (doc_id * 7919 + k) % 500 AS dst
           FROM documents, (VALUES (0), (1), (2)) AS ks(k)),
         nodes AS (
           SELECT src AS node FROM e UNION SELECT dst FROM e),
         a1r AS (
           SELECT n.node, coalesce(x.c, 0)::DOUBLE AS s
           FROM nodes n LEFT JOIN (
             SELECT dst, count(*)::DOUBLE AS c FROM e GROUP BY dst) x
             ON x.dst = n.node),
         a1 AS (
           SELECT node, CASE WHEN (SELECT max(s) FROM a1r) > 0
             THEN s / (SELECT max(s) FROM a1r) ELSE 0 END AS s FROM a1r),
         h1r AS (
           SELECT n.node, coalesce(x.c, 0) AS s
           FROM nodes n LEFT JOIN (
             SELECT e.src, sum(a1.s) AS c FROM e
             JOIN a1 ON a1.node = e.dst GROUP BY e.src) x
             ON x.src = n.node),
         h1 AS (
           SELECT node, CASE WHEN (SELECT max(s) FROM h1r) > 0
             THEN s / (SELECT max(s) FROM h1r) ELSE 0 END AS s FROM h1r),
         a2r AS (
           SELECT n.node, coalesce(x.c, 0) AS s
           FROM nodes n LEFT JOIN (
             SELECT e.dst, sum(h1.s) AS c FROM e
             JOIN h1 ON h1.node = e.src GROUP BY e.dst) x
             ON x.dst = n.node),
         a2 AS (
           SELECT node, CASE WHEN (SELECT max(s) FROM a2r) > 0
             THEN s / (SELECT max(s) FROM a2r) ELSE 0 END AS s FROM a2r),
         h2r AS (
           SELECT n.node, coalesce(x.c, 0) AS s
           FROM nodes n LEFT JOIN (
             SELECT e.src, sum(a2.s) AS c FROM e
             JOIN a2 ON a2.node = e.dst GROUP BY e.src) x
             ON x.src = n.node),
         h2 AS (
           SELECT node, CASE WHEN (SELECT max(s) FROM h2r) > 0
             THEN s / (SELECT max(s) FROM h2r) ELSE 0 END AS s FROM h2r)
         SELECT n.node, round(h2.s, 4) AS hub, round(a2.s, 4) AS authority
         FROM nodes n
         JOIN h2 ON h2.node = n.node
         JOIN a2 ON a2.node = n.node
         WHERE n.node < 40 ORDER BY n.node""",
    "q181_cdc_chunks" ->
      """WITH ch AS (
           SELECT * FROM
           read_parquet('/root/repo/spark-warehouse/q181_chunks/*.parquet')),
         w AS (
           SELECT doc_id, chunk_idx, c_start, c_len,
                  count(*) OVER (PARTITION BY doc_id) AS n,
                  coalesce(sum(c_len) OVER (PARTITION BY doc_id
                    ORDER BY chunk_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS bef
           FROM ch),
         agg AS (
           SELECT doc_id, max(n) AS n_chunks,
                  sum(c_len)::BIGINT AS sum_len,
                  max(abs(c_start - bef)) AS drift,
                  max(c_len) AS max_len,
                  min(CASE WHEN chunk_idx < n - 1 THEN c_len END)
                    AS min_nonfinal
           FROM w GROUP BY doc_id)
         SELECT a.doc_id, n_chunks,
                CAST(sum_len = strlen(d.text) AS INTEGER)
                  AS cover_ok,
                CAST(drift = 0 AS INTEGER) AS contiguous_ok,
                CAST(max_len <= 256 AS INTEGER) AS max_ok,
                CAST(coalesce(min_nonfinal >= 16, true) AS INTEGER)
                  AS min_ok
         FROM agg a JOIN documents d ON d.doc_id = a.doc_id
         ORDER BY a.doc_id""",
    "q182_triangles" ->
      """WITH raw AS (
           SELECT doc_id AS src, (doc_id + 1) % 500 AS dst
           FROM documents WHERE doc_id < 2000
           UNION ALL
           SELECT doc_id, (doc_id + 2) % 500
           FROM documents WHERE doc_id < 2000
           UNION ALL
           SELECT doc_id, (doc_id * 7919 + 5) % 500
           FROM documents WHERE doc_id < 2000),
         canon AS (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM raw WHERE src <> dst),
         deg AS (
           SELECT node, count(*) AS degree FROM (
             SELECT u AS node FROM canon
             UNION ALL SELECT v FROM canon)
           GROUP BY node),
         o AS (
           SELECT CASE WHEN (du.degree, c.u) < (dv.degree, c.v)
                       THEN c.u ELSE c.v END AS a,
                  CASE WHEN (du.degree, c.u) < (dv.degree, c.v)
                       THEN c.v ELSE c.u END AS b,
                  CASE WHEN (du.degree, c.u) < (dv.degree, c.v)
                       THEN dv.degree ELSE du.degree END AS db
           FROM canon c
           JOIN deg du ON du.node = c.u
           JOIN deg dv ON dv.node = c.v),
         tri AS (
           SELECT l.a, l.b, r.b AS c
           FROM o l
           JOIN o r ON l.a = r.a AND (l.db, l.b) < (r.db, r.b)
           JOIN o e ON e.a = l.b AND e.b = r.b),
         per AS (
           SELECT node, count(*) AS triangles FROM (
             SELECT a AS node FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri)
           GROUP BY node)
         SELECT d.node, d.degree,
                coalesce(p.triangles, 0) AS triangles,
                round(CASE WHEN d.degree >= 2
                  THEN 2.0 * coalesce(p.triangles, 0)
                       / (d.degree * (d.degree - 1)) END, 4) AS coefficient
         FROM deg d LEFT JOIN per p ON p.node = d.node
         ORDER BY d.node""",
    "q183_transitions" ->
      """WITH seq AS (
           SELECT event_type AS prev_type,
                  lead(event_type) OVER w AS next_type,
                  epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         c AS (
           SELECT prev_type, next_type, count(*) AS n
           FROM seq
           WHERE next_type IS NOT NULL AND gap_us < 86400000000
           GROUP BY 1, 2)
         SELECT prev_type, next_type, n,
                round(n / sum(n) OVER (PARTITION BY prev_type), 4) AS p
         FROM c ORDER BY prev_type, next_type""",
    "q184_rendezvous" ->
      """WITH w8 AS (
           SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
             ORDER BY md5(doc_id::VARCHAR || ':' || s::VARCHAR || ':s')
               DESC, s DESC) AS rn
           FROM documents, generate_series(0, 7) t(s)),
         s8 AS (SELECT doc_id, s AS shard8 FROM w8 WHERE rn = 1),
         w9 AS (
           SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
             ORDER BY md5(doc_id::VARCHAR || ':' || s::VARCHAR || ':s')
               DESC, s DESC) AS rn
           FROM documents, generate_series(0, 8) t(s)),
         s9 AS (SELECT doc_id, s AS shard9 FROM w9 WHERE rn = 1)
         SELECT shard8, shard9, count(*) AS n_docs
         FROM s8 JOIN s9 USING (doc_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q185_encoding_damage" ->
      """WITH planted AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' Ã©Ã¤ â€œq ' || chr(65533)
                  WHEN doc_id % 11 = 0
                  THEN text || chr(1) || chr(2) || ' Â' || chr(160) || 'x'
                  ELSE text END AS text
           FROM documents),
         c AS (
           SELECT doc_id,
             len(regexp_extract_all(text, '\x{FFFD}')) AS n_repl,
             len(regexp_extract_all(text,
               '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}-\x{9F}]'))
               AS n_ctrl,
             len(regexp_extract_all(text,
               'Ã©|Ã¤|Ã¶|Ã¼|Ã±|Ã¡|Ã³|Ã¨|Â' || chr(160) || '|Â |â€'))
               AS n_moji,
             length(text) AS n_chars
           FROM planted)
         SELECT doc_id, n_repl, n_ctrl, n_moji,
                round(CASE WHEN n_chars = 0 THEN 0.0
                      ELSE (n_repl + n_ctrl + n_moji) / n_chars::DOUBLE
                      END, 6) AS damage
         FROM c ORDER BY doc_id""",
    "q186_source_divergence" ->
      """WITH words AS (
           SELECT source,
                  unnest(string_split_regex(lower(trim(text)), '\s+'))
                    AS term
           FROM documents),
         wf AS (SELECT source, term FROM words WHERE term <> ''),
         vocab AS (
           SELECT term, n_w FROM (
             SELECT term, count(*) AS n_w FROM wf GROUP BY 1
             ORDER BY n_w DESC, term LIMIT 100)),
         by_src AS (
           SELECT source, term, count(*) AS n_sw
           FROM wf JOIN vocab USING (term) GROUP BY 1, 2),
         src_tot AS (
           SELECT source, CAST(sum(n_sw) AS BIGINT) AS ns
           FROM by_src GROUP BY 1),
         corpus AS (
           SELECT CAST(sum(n_w) AS BIGINT) AS nc,
                  count(*) AS v FROM vocab),
         cells AS (
           SELECT st.source, st.ns, v.term, v.n_w,
                  coalesce(b.n_sw, 0) AS n_sw
           FROM src_tot st CROSS JOIN vocab v
           LEFT JOIN by_src b
             ON b.source = st.source AND b.term = v.term)
         SELECT c.source, max(c.ns) AS n_hits,
                round(sum(
                  ((c.n_sw + 1) / (c.ns + corpus.v)::DOUBLE) *
                  ln(((c.n_sw + 1) / (c.ns + corpus.v)::DOUBLE) /
                     ((c.n_w + 1) / (corpus.nc + corpus.v)::DOUBLE))),
                  6) AS kl
         FROM cells c CROSS JOIN corpus
         GROUP BY c.source ORDER BY c.source""",
    "q187_containment_join" ->
      """WITH tf AS (
           SELECT id, term FROM (
             SELECT doc_id AS id,
                    unnest(list_distinct(list_transform(
                      generate_series(1, greatest(len(l) - 2, 1)),
                      i -> array_to_string(
                             list_slice(l, i, i + 2), ' ')))) AS term
             FROM (SELECT doc_id,
                          string_split_regex(lower(trim(text)), '\s+')
                            AS l
                   FROM documents))
           WHERE term <> ''),
         dfx AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
         ranked AS (
           SELECT t.id, t.term, d.dfc,
                  count(*) OVER (PARTITION BY t.id) AS n,
                  row_number() OVER (PARTITION BY t.id
                    ORDER BY d.dfc, t.term) AS pos
           FROM tf t JOIN dfx d USING (term)),
         prefix AS (
           SELECT id, term, n FROM ranked
           WHERE pos <= n - ceil(CAST(0.6 AS DOUBLE) * n) + 1),
         cand AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM prefix a JOIN ranked b ON a.term = b.term
             AND a.id <> b.id
             AND CAST(0.6 AS DOUBLE) * a.n <= b.n),
         inter AS (
           SELECT c.id_a, c.id_b, count(*) AS i
           FROM cand c
           JOIN tf ta ON ta.id = c.id_a
           JOIN tf tb ON tb.id = c.id_b AND tb.term = ta.term
           GROUP BY 1, 2),
         nsz AS (SELECT id, count(*) AS n FROM tf GROUP BY 1)
         SELECT i.id_a, i.id_b,
                round(i.i::DOUBLE / na.n, 4) AS containment
         FROM inter i
         JOIN nsz na ON na.id = i.id_a
         WHERE i.i::DOUBLE / na.n >= CAST(0.6 AS DOUBLE)
         ORDER BY id_a, id_b""",
    "q188_funnel_lags" ->
      """WITH e AS (
           SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
         s1 AS (
           SELECT user_id, min(ms) AS ts_1
           FROM e WHERE event_type = 'view' GROUP BY 1),
         s2 AS (
           SELECT s1.user_id, s1.ts_1,
                  min(CASE WHEN e.ms > s1.ts_1 THEN e.ms END) AS ts_2
           FROM s1 LEFT JOIN e
             ON e.user_id = s1.user_id AND e.event_type = 'click'
           GROUP BY 1, 2),
         s3 AS (
           SELECT s2.user_id, s2.ts_1, s2.ts_2,
                  min(CASE WHEN e.ms > s2.ts_2 THEN e.ms END) AS ts_3
           FROM s2 LEFT JOIN e
             ON e.user_id = s2.user_id AND e.event_type = 'purchase'
           GROUP BY 1, 2, 3),
         lags AS (
           SELECT 1 AS step, 'view' AS from_type, 'click' AS to_type,
                  ts_2 - ts_1 AS lag_ms
           FROM s3 WHERE ts_2 IS NOT NULL
           UNION ALL
           SELECT 2, 'click', 'purchase', ts_3 - ts_2
           FROM s3 WHERE ts_3 IS NOT NULL)
         SELECT step, from_type, to_type, count(*) AS n_users,
                round(avg(lag_ms), 4) AS mean_ms,
                min(lag_ms) AS min_ms, max(lag_ms) AS max_ms,
                round(quantile_cont(lag_ms, 0.5), 4) AS p50_ms,
                round(quantile_cont(lag_ms, 0.9), 4) AS p90_ms
         FROM lags GROUP BY 1, 2, 3 ORDER BY step""",
    "q189_rake_keywords" ->
      """WITH toks AS (
           SELECT id, pos, raw,
                  regexp_replace(raw, '[^a-z0-9'']', '', 'g') AS w
           FROM (
             SELECT doc_id AS id, generate_subscripts(l, 1) - 1 AS pos,
                    unnest(l) AS raw
             FROM (SELECT doc_id,
                          string_split_regex(lower(trim(text)), '\s+')
                            AS l
                   FROM documents))
           WHERE raw <> ''),
         t1 AS (
           SELECT id, pos, w,
                  (w = '' OR w IN ('the','and','of','to','a','in','is',
                    'that','it','for','on','with','as','by','at','an',
                    'be','this','are','was','or','from','but','not',
                    'have','has','had','they','you','we','his','her',
                    'its','their','which','will','would','can','could',
                    'been')) AS brk,
                  regexp_matches(raw, '[.,;:!?]$') AS endp
           FROM toks),
         g1 AS (
           SELECT id, pos, w, brk,
                  sum(CASE WHEN brk THEN 1 ELSE 0 END) OVER
                    (PARTITION BY id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) +
                  coalesce(sum(CASE WHEN endp THEN 1 ELSE 0 END) OVER
                    (PARTITION BY id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS g
           FROM t1),
         m AS (SELECT id, g, pos, w FROM g1 WHERE NOT brk),
         ph AS (
           SELECT id, g, count(*) AS len,
                  string_agg(w, ' ' ORDER BY pos) AS phrase
           FROM m GROUP BY 1, 2
           HAVING count(*) <= 4),
         mem AS (SELECT m.id, m.g, m.w, ph.phrase, ph.len
                 FROM m JOIN ph USING (id, g)),
         ws AS (SELECT id, w, count(*) AS freq,
                       CAST(sum(len) AS BIGINT) AS deg
                FROM mem GROUP BY 1, 2),
         occ AS (
           SELECT mem.id, mem.g, mem.phrase, mem.len,
                  CAST(sum(ws.deg) AS BIGINT) AS sdeg,
                  CAST(sum(ws.freq) AS BIGINT) AS sfreq
           FROM mem JOIN ws ON ws.id = mem.id AND ws.w = mem.w
           GROUP BY 1, 2, 3, 4),
         pp AS (
           SELECT id, phrase, max(len) AS n_words,
                  max(sdeg) AS sdeg, max(sfreq) AS sfreq
           FROM occ GROUP BY 1, 2),
         rk AS (
           SELECT id, phrase, n_words,
                  sdeg::DOUBLE / sfreq AS score,
                  rank() OVER (PARTITION BY id
                    ORDER BY sdeg::DOUBLE / sfreq DESC, phrase) AS rank
           FROM pp)
         SELECT id AS doc_id, rank, phrase, n_words,
                round(score, 4) AS score
         FROM rk WHERE rank <= 3 ORDER BY doc_id, rank, phrase""",
    "q190_kcore" ->
      """WITH raw AS (
           SELECT doc_id AS src, (doc_id + 1) % 500 AS dst
           FROM documents WHERE doc_id < 2000
           UNION ALL
           SELECT doc_id, (doc_id + 2) % 500
           FROM documents WHERE doc_id < 2000
           UNION ALL
           SELECT doc_id, (doc_id * 7919 + 5) % 500
           FROM documents WHERE doc_id < 2000),
         canon AS (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM raw WHERE src <> dst),
         core AS (
           SELECT * FROM
           read_parquet('/root/repo/spark-warehouse/q190_core/*.parquet')),
         nb AS (
           SELECT u AS node, v AS nbr FROM canon
           UNION ALL SELECT v, u FROM canon),
         j AS (
           SELECT c.node, c.in_core, c.round,
                  ci.in_core AS ic_n, ci.round AS r_n
           FROM core c
           LEFT JOIN nb ON nb.node = c.node
           LEFT JOIN core ci ON ci.node = nb.nbr),
         f AS (
           SELECT node, in_core, round,
                  sum(CASE WHEN ic_n = 1 THEN 1 ELSE 0 END) AS kdeg,
                  sum(CASE WHEN ic_n = 1 OR r_n >= round
                      THEN 1 ELSE 0 END) AS sdeg_r,
                  sum(CASE WHEN ic_n = 1 OR r_n >= round - 1
                      THEN 1 ELSE 0 END) AS sdeg_rm1
           FROM j GROUP BY 1, 2, 3)
         SELECT node, in_core, round,
                CAST(CASE WHEN in_core = 1 THEN kdeg >= 4
                     ELSE sdeg_r < 4 AND (round = 1 OR sdeg_rm1 >= 4)
                     END AS INTEGER) AS peel_ok
         FROM f ORDER BY node""",
    "q191_readability" ->
      """WITH c AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)),
                                '\s+')) END AS nw,
                  greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                    AS ns,
                  len(regexp_extract_all(lower(text), '[aeiouy]+')) +
                  len(list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    w -> w <> '' AND NOT regexp_matches(w, '[aeiouy]')))
                    AS sy
           FROM documents)
         SELECT doc_id, nw AS n_words, ns AS n_sentences,
                sy AS n_syllables,
                round(CASE WHEN nw = 0 THEN NULL
                      ELSE 206.835 - 1.015 * (nw::DOUBLE / ns)
                           - 84.6 * (sy::DOUBLE / nw) END, 4) AS flesch
         FROM c ORDER BY doc_id""",
    "q192_dup_matrix" ->
      """WITH planted AS (
           SELECT source, text FROM documents
           UNION ALL
           SELECT source || '_mirror', text FROM documents
           WHERE doc_id % 3 = 0
           UNION ALL
           SELECT source || '_mirror', text FROM documents
           WHERE doc_id % 15 = 0),
         cs AS (
           SELECT md5(text) AS h, source, count(*) AS n
           FROM planted GROUP BY 1, 2),
         p AS (
           SELECT a.source AS source_a, b.source AS source_b,
                  CASE WHEN a.source = b.source
                       THEN a.n * (a.n - 1) // 2
                       ELSE a.n * b.n END AS pairs
           FROM cs a JOIN cs b
             ON a.h = b.h AND a.source <= b.source)
         SELECT source_a, source_b,
                CAST(sum(pairs) AS BIGINT) AS dup_pairs
         FROM p GROUP BY 1, 2
         HAVING sum(pairs) > 0
         ORDER BY source_a, source_b""",
    "q193_seasonal_anomalies" ->
      """WITH c AS (
           SELECT event_type, epoch_ms(ts) // 86400000 AS bucket,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         p AS (SELECT event_type, bucket, bucket % 7 AS phase, n FROM c),
         w AS (
           SELECT event_type, bucket, phase, n,
                  count(n) OVER tw AS tn,
                  avg(n) OVER tw AS trail_mean,
                  stddev_samp(n) OVER tw AS trail_std
           FROM p
           WINDOW tw AS (PARTITION BY event_type, phase ORDER BY bucket
             ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)),
         z AS (
           SELECT event_type, bucket, phase, n, trail_mean, trail_std,
                  CASE WHEN tn >= 3 AND trail_std > 0
                       THEN (n - trail_mean) / trail_std END AS z
           FROM w)
         SELECT event_type, bucket, phase, n,
                round(trail_mean, 4) AS trail_mean,
                round(trail_std, 4) AS trail_std, round(z, 4) AS z,
                CAST(coalesce(abs(z) >= 1.5, false) AS INTEGER)
                  AS is_anomaly
         FROM z ORDER BY event_type, bucket""",
    "q194_decontam_report" ->
      """WITH grams AS (
           SELECT id, term FROM (
             SELECT doc_id AS id,
                    unnest(list_distinct(list_transform(
                      generate_series(1, greatest(len(l) - 2, 1)),
                      i -> array_to_string(
                             list_slice(l, i, i + 2), ' ')))) AS term
             FROM (SELECT doc_id,
                          string_split_regex(lower(trim(text)), '\s+')
                            AS l
                   FROM documents))
           WHERE term <> ''),
         bench AS (
           SELECT id + 1000000 AS bench_id, term FROM grams
           WHERE id % 17 = 0)
         SELECT g.id AS doc_id, b.bench_id, count(*) AS n_shared,
                min(g.term) AS example_gram
         FROM grams g JOIN bench b ON b.term = g.term
         GROUP BY 1, 2 ORDER BY doc_id, bench_id""",
    "q195_frontier" ->
      """WITH links AS (
           SELECT 'h' || (doc_id % 37) AS host,
                  'https://h' || (doc_id % 37) || '/' || doc_id AS url,
                  (doc_id * 7) % 11 AS prio
           FROM documents),
         r AS (
           SELECT url, host,
                  row_number() OVER (PARTITION BY host
                    ORDER BY prio DESC, url) AS round
           FROM links)
         SELECT url, host, round,
                md5(host || ':' || round::VARCHAR) AS slot
         FROM r ORDER BY url""",
    "q196_prefix_completions" ->
      """WITH ql AS (
           SELECT array_to_string(list_slice(
             string_split_regex(lower(trim(text)), '\s+'), 1, 2), ' ')
             AS q
           FROM documents),
         c AS (
           SELECT lower(trim(q)) AS q, count(*) AS n
           FROM ql WHERE length(lower(trim(q))) > 0 GROUP BY 1),
         p AS (
           SELECT q, n,
                  unnest(list_transform(
                    generate_series(1, least(length(q), 6)),
                    i -> substr(q, 1, i::INTEGER))) AS prefix
           FROM c),
         r AS (
           SELECT prefix, q, n,
                  rank() OVER (PARTITION BY prefix
                    ORDER BY n DESC, q) AS rank
           FROM p)
         SELECT prefix, rank, q AS completion, n
         FROM r WHERE rank <= 3
         ORDER BY prefix, rank, completion""",
    "q197_session_paths" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
           FROM events),
         nw AS (
           SELECT user_id, event_id, event_type, ms,
                  CASE WHEN lag(ms) OVER w IS NULL
                         OR ms - lag(ms) OVER w > 1800000
                       THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id
             ORDER BY ms, event_id)),
         s AS (
           SELECT user_id, event_id, event_type, ms,
                  sum(brk) OVER (PARTITION BY user_id
                    ORDER BY ms, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM nw),
         p AS (
           SELECT user_id, sid, event_type,
                  row_number() OVER (PARTITION BY user_id, sid
                    ORDER BY ms, event_id) AS pos
           FROM s),
         paths AS (
           SELECT user_id, sid,
                  string_agg(event_type, ' > ' ORDER BY pos) AS path
           FROM p WHERE pos <= 4 GROUP BY 1, 2),
         c AS (SELECT path, count(*) AS n_sessions
               FROM paths GROUP BY 1)
         SELECT path, n_sessions FROM c
         ORDER BY n_sessions DESC, path LIMIT 15""",
    "q198_skew_report" ->
      """WITH c AS (
           SELECT user_id AS key, count(*) AS n
           FROM events GROUP BY 1),
         st AS (
           SELECT CAST(sum(n) AS BIGINT) AS n_rows,
                  count(*) AS n_keys, max(n) AS max_n,
                  quantile_cont(n, 0.99) AS p99_n
           FROM c),
         top AS (SELECT key, n FROM c ORDER BY n DESC, key LIMIT 10)
         SELECT t.key, t.n,
                round(t.n / st.n_rows::DOUBLE, 6) AS share,
                st.n_rows, st.n_keys, st.max_n,
                round(st.p99_n, 4) AS p99_n
         FROM top t CROSS JOIN st
         ORDER BY t.n DESC, t.key""",
    "q199_cdc_merge" ->
      """WITH snap AS (
           SELECT c_custkey, c_name, c_acctbal,
                  100::BIGINT AS v, 'u' AS op, 0 AS origin
           FROM customer),
         ups AS (
           SELECT c_custkey, c_name || '-v2', c_acctbal + 100,
                  200::BIGINT, 'u', 1
           FROM customer WHERE c_custkey % 5 = 0),
         dels AS (
           SELECT c_custkey, c_name, c_acctbal,
                  300::BIGINT, 'd', 1
           FROM customer WHERE c_custkey % 11 = 0),
         allr AS (
           SELECT * FROM snap
           UNION ALL SELECT * FROM ups
           UNION ALL SELECT * FROM dels),
         w AS (
           SELECT *, row_number() OVER (PARTITION BY c_custkey
             ORDER BY v DESC, origin DESC, c_name DESC,
                      c_acctbal DESC, op DESC) AS rn
           FROM allr)
         SELECT c_custkey, c_name, c_acctbal, v
         FROM w WHERE rn = 1 AND op <> 'd'
         ORDER BY c_custkey""",
    "q200_personalized_pagerank" ->
      """WITH e AS (
           SELECT DISTINCT doc_id AS src, (doc_id * 7919 + k) % 500 AS dst
           FROM documents, (VALUES (0), (1), (2)) AS ks(k)),
         nodes AS (
           SELECT src AS node FROM e UNION SELECT dst FROM e),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         tele AS (
           SELECT node,
                  CASE WHEN node < 10 THEN 0.15 ELSE 0.0 END AS tp
           FROM nodes),
         r0 AS (SELECT node, tp AS rank FROM tele),
         c1 AS (SELECT e.dst AS node, sum(r0.rank / deg.deg) AS m
                FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src
                GROUP BY e.dst),
         r1 AS (SELECT tele.node, tele.tp + 0.85 * coalesce(c1.m, 0)
                  AS rank
                FROM tele LEFT JOIN c1 ON c1.node = tele.node),
         c2 AS (SELECT e.dst AS node, sum(r1.rank / deg.deg) AS m
                FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src
                GROUP BY e.dst),
         r2 AS (SELECT tele.node, tele.tp + 0.85 * coalesce(c2.m, 0)
                  AS rank
                FROM tele LEFT JOIN c2 ON c2.node = tele.node)
         SELECT node, round(rank, 4) AS rank
         FROM r2 WHERE node < 60 ORDER BY node""",
    "q201_rank_normalize" ->
      """WITH q AS (
           SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\s+') AS toks,
             length(text) AS n,
             length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
               AS np
           FROM documents),
         r AS (
           SELECT doc_id, source,
             (CASE WHEN n BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE len(list_filter(toks, t -> t IN
                      ('the','and','of','to','a','in','is','that')))::double
                         / len(toks) END) >= 0.01
                   THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE list_sum(list_transform(toks,
                      w -> length(w)))::double / len(toks) END)
                     BETWEEN 2.0 AND 12.0
                   THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN n = 0 THEN 0.0
                    ELSE np::double / n END) <= 0.1
                   THEN 0.25 ELSE 0.0 END) AS q
           FROM q)
         SELECT doc_id, source, round(q, 4) AS q,
                round(CASE WHEN count(*) OVER (PARTITION BY source) > 1
                      THEN percent_rank() OVER (PARTITION BY source
                             ORDER BY q)
                      ELSE 0.0 END, 6) AS rank_norm
         FROM r ORDER BY doc_id""",
    "q202_shard_manifest" ->
      """WITH ex AS (
           SELECT ('0x' || substr(md5(doc_id::VARCHAR || ':shard'),
                    1, 4))::BIGINT % 16 AS shard,
                  md5(concat_ws(chr(1), CAST(doc_id AS VARCHAR), text))
                    AS hh
           FROM documents),
         p AS (
           SELECT shard,
                  ('0x' || substr(hh, 9, 12))::BIGINT AS h48,
                  ('0x' || substr(hh, 21, 8))::BIGINT AS h32
           FROM ex)
         SELECT shard, count(*) AS n_rows, bit_xor(h48) AS xor48,
                CAST(sum(h32) AS BIGINT) AS sum32
         FROM p GROUP BY 1 ORDER BY shard""",
    "q203_source_overlap" ->
      """WITH planted AS (
           SELECT source, text FROM documents
           UNION ALL
           SELECT 'mirror', text FROM documents WHERE doc_id % 4 = 0),
         hs AS (SELECT DISTINCT md5(text) AS h, source FROM planted),
         tot AS (SELECT source, count(*) AS n FROM hs GROUP BY 1),
         inter AS (
           SELECT a.source AS source_a, b.source AS source_b,
                  count(*) AS n_common
           FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
           GROUP BY 1, 2)
         SELECT i.source_a, i.source_b, ta.n AS n_a, tb.n AS n_b,
                i.n_common,
                round(i.n_common
                      / (ta.n + tb.n - i.n_common)::DOUBLE, 6)
                  AS jaccard
         FROM inter i
         JOIN tot ta ON ta.source = i.source_a
         JOIN tot tb ON tb.source = i.source_b
         ORDER BY source_a, source_b""",
    "q204_fd_audit" ->
      """WITH g AS (
           SELECT l_orderkey,
                  count(DISTINCT l_returnflag) AS n_rhs_values,
                  count(*) AS n_rows
           FROM lineitem GROUP BY 1),
         st AS (
           SELECT count(*) AS n_groups,
                  CAST(sum(CASE WHEN n_rhs_values > 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
           FROM g),
         v AS (
           SELECT * FROM g WHERE n_rhs_values > 1
           ORDER BY n_rhs_values DESC, l_orderkey LIMIT 20)
         SELECT v.l_orderkey, v.n_rhs_values, v.n_rows,
                st.n_groups, st.n_violating
         FROM v CROSS JOIN st
         ORDER BY n_rhs_values DESC, l_orderkey""",
    "q205_recrawl" ->
      """WITH o AS (
           SELECT 'u' || (user_id % 500) AS url, epoch_ms(ts) AS ms,
                  event_type AS h
           FROM events),
         c AS (
           SELECT url, ms, h,
                  CASE WHEN lag(h) OVER w IS NOT NULL
                         AND lag(h) OVER w <> h
                       THEN 1 ELSE 0 END AS chg
           FROM o WINDOW w AS (PARTITION BY url ORDER BY ms, h)),
         a AS (
           SELECT url, count(*) AS n_obs,
                  CAST(sum(chg) AS BIGINT) AS n_changes,
                  max(ms) - min(ms) AS span_ms, max(ms) AS last_ms
           FROM c GROUP BY 1),
         i AS (
           SELECT url, n_obs, n_changes, span_ms,
                  least(greatest(
                    CASE WHEN n_changes > 0 THEN span_ms // n_changes
                         ELSE 2592000000 END,
                    3600000), 2592000000) AS interval_ms,
                  last_ms
           FROM a)
         SELECT url, n_obs, n_changes, span_ms, interval_ms,
                last_ms + interval_ms AS next_fetch_ms
         FROM i ORDER BY url""",
    "q206_truncate_tokens" ->
      """WITH tkn AS (
           SELECT doc_id, text,
                  string_split_regex(trim(text), '\s+') AS toks,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)),
                                '\s+')) END AS n_tokens
           FROM documents)
         SELECT doc_id, n_tokens,
                md5(CASE WHEN length(trim(text)) = 0 THEN text
                         WHEN len(toks) <= 50 THEN text
                         ELSE array_to_string(
                                list_slice(toks, 1, 40), ' ')
                              || ' ... ' ||
                              array_to_string(
                                list_slice(toks, -10, -1), ' ')
                    END) AS trunc_md5
         FROM tkn ORDER BY doc_id""",
    // synchronous LPA, 2 rounds unrolled: vote = most frequent
    // neighbor label, tie -> smallest, isolated keep their own
    "q207_label_propagation" ->
      """WITH e0 AS (
           SELECT DISTINCT doc_id AS src, (doc_id * 7919 + k) % 500 AS dst
           FROM documents, (VALUES (0), (1), (2)) AS ks(k)),
         canon AS (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM e0 WHERE src <> dst),
         sym AS (SELECT u, v FROM canon
                 UNION ALL SELECT v, u FROM canon),
         nodes AS (SELECT DISTINCT u AS node FROM sym),
         l0 AS (SELECT node, node AS label FROM nodes),
         v1 AS (SELECT s.u AS node, l.label, count(*) AS n
                FROM sym s JOIN l0 l ON l.node = s.v GROUP BY 1, 2),
         w1 AS (SELECT node, label FROM (
                  SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY n DESC, label ASC) AS rk
                  FROM v1) WHERE rk = 1),
         l1 AS (SELECT n.node, coalesce(w1.label, n.node) AS label
                FROM nodes n LEFT JOIN w1 USING (node)),
         v2 AS (SELECT s.u AS node, l.label, count(*) AS n
                FROM sym s JOIN l1 l ON l.node = s.v GROUP BY 1, 2),
         w2 AS (SELECT node, label FROM (
                  SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY n DESC, label ASC) AS rk
                  FROM v2) WHERE rk = 1)
         SELECT n.node, coalesce(w2.label, n.node) AS label
         FROM nodes n LEFT JOIN w2 USING (node)
         ORDER BY node""",
    "q208_bfs_distances" ->
      """WITH RECURSIVE e0 AS (
           SELECT DISTINCT doc_id AS src, (doc_id * 7919 + k) % 500 AS dst
           FROM documents, (VALUES (0), (1), (2)) AS ks(k)),
         fwd AS (SELECT src AS u, dst AS v FROM e0 WHERE src <> dst),
         sym AS (SELECT u, v FROM fwd UNION SELECT v, u FROM fwd),
         walk(node, dist) AS (
           SELECT doc_id, 0 FROM documents WHERE doc_id < 5
           UNION
           SELECT s.v, walk.dist + 1
           FROM walk JOIN sym s ON s.u = walk.node
           WHERE walk.dist < 3)
         SELECT node, min(dist) AS dist FROM walk
         GROUP BY node ORDER BY node""",
    // first/last touch via the same RANGE window; (ms, id) order
    // encoded as ms*100000+event_id (event_id < 100000 at oracle SF)
    "q209_attribution" ->
      """WITH ev AS (
           SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms
           FROM events),
         coded AS (
           SELECT *, CASE WHEN event_type IN ('view', 'click')
                          THEN ms * 100000 + event_id END AS tcode
           FROM ev),
         pick AS (
           SELECT event_id, event_type,
                  min(tcode) OVER w AS fcode,
                  max(tcode) OVER w AS lcode
           FROM coded
           WINDOW w AS (PARTITION BY user_id ORDER BY ms
             RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW)),
         conv AS (SELECT * FROM pick WHERE event_type = 'purchase'),
         credit AS (
           SELECT 'first' AS model,
                  coalesce(t.event_type, '(none)') AS touch_type
           FROM conv LEFT JOIN ev t ON t.event_id = conv.fcode % 100000
           UNION ALL
           SELECT 'last' AS model,
                  coalesce(t.event_type, '(none)') AS touch_type
           FROM conv LEFT JOIN ev t ON t.event_id = conv.lcode % 100000),
         agg AS (
           SELECT model, touch_type, count(*) AS conversions
           FROM credit GROUP BY model, touch_type)
         SELECT model, touch_type, conversions,
                round(conversions / sum(conversions)
                  OVER (PARTITION BY model), 4) AS share
         FROM agg ORDER BY model, touch_type""",
    "q210_basket_lift" ->
      """WITH bi AS (
           SELECT DISTINCT (user_id, date_trunc('hour', ts)) AS b,
                  event_type AS it
           FROM events),
         nb AS (SELECT count(DISTINCT b) AS n FROM bi),
         tot AS (SELECT it, count(*) AS n FROM bi GROUP BY it),
         p AS (SELECT l.it AS item_a, r.it AS item_b, count(*) AS n_ab
               FROM bi l JOIN bi r ON l.b = r.b AND l.it < r.it
               GROUP BY 1, 2)
         SELECT item_a, item_b, ta.n AS n_a, tb.n AS n_b, p.n_ab,
                round(p.n_ab / (SELECT n FROM nb)::DOUBLE, 4) AS support,
                round(p.n_ab * (SELECT n FROM nb)::DOUBLE
                  / (ta.n * tb.n), 4) AS lift
         FROM p
         JOIN tot ta ON ta.it = p.item_a
         JOIN tot tb ON tb.it = p.item_b
         ORDER BY item_a, item_b""",
    "q211_content_drift" ->
      """WITH hist AS (
           SELECT source || '/' || (doc_id % 50)::VARCHAR AS url,
                  doc_id AS ts,
                  substring(text, 1, 200) AS t
           FROM documents),
         lagged AS (
           SELECT url, ts,
                  lag(ts) OVER w AS prev_ts,
                  lag(t) OVER w AS prev_t, t
           FROM hist
           WINDOW w AS (PARTITION BY url ORDER BY ts))
         SELECT url, ts, prev_ts,
                CASE WHEN prev_t IS NOT NULL THEN
                  round(levenshtein(prev_t, t) /
                    greatest(length(prev_t), length(t), 1)::DOUBLE, 4)
                END AS drift
         FROM lagged ORDER BY url, ts""",
    "q212_fk_audit" ->
      """WITH rel AS (
           SELECT 'lineitem->orders' AS relation,
                  (SELECT count(*) FROM lineitem) AS child_rows,
                  (SELECT count(*) FROM lineitem
                   WHERE l_orderkey IS NULL) AS null_keys,
                  (SELECT count(*) FROM lineitem
                   WHERE l_orderkey IS NOT NULL
                     AND l_orderkey NOT IN
                       (SELECT o_orderkey FROM orders
                        WHERE o_orderkey IS NOT NULL)) AS orphans,
                  (SELECT count(DISTINCT o_orderkey) FROM orders) AS parent_keys,
                  (SELECT count(*) FROM (
                     SELECT o_orderkey FROM orders GROUP BY o_orderkey
                     HAVING count(*) > 1)) AS parent_dup_keys
           UNION ALL
           SELECT 'orders->customer',
                  (SELECT count(*) FROM orders),
                  (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
                  (SELECT count(*) FROM orders
                   WHERE o_custkey IS NOT NULL
                     AND o_custkey NOT IN
                       (SELECT c_custkey FROM customer
                        WHERE c_custkey IS NOT NULL)),
                  (SELECT count(DISTINCT c_custkey) FROM customer),
                  (SELECT count(*) FROM (
                     SELECT c_custkey FROM customer GROUP BY c_custkey
                     HAVING count(*) > 1)))
         SELECT relation, child_rows, null_keys, orphans,
                round(orphans / greatest(child_rows - null_keys, 1)::DOUBLE,
                  4) AS orphan_rate,
                parent_keys, parent_dup_keys
         FROM rel ORDER BY relation""",
    "q213_winsorize" ->
      """WITH bands AS (
           SELECT source,
                  quantile_cont(n_chars, 0.05) AS blo,
                  quantile_cont(n_chars, 0.95) AS bhi
           FROM documents GROUP BY source)
         SELECT doc_id, d.source, n_chars,
                round(blo, 4) AS lo, round(bhi, 4) AS hi,
                round(least(greatest(n_chars::DOUBLE, blo), bhi), 4)
                  AS winsorized
         FROM documents d JOIN bands b ON b.source = d.source
         ORDER BY doc_id""",
    // calibration: binning + ECE replayed from the dumped scored table
    "q214_calibration" ->
      """WITH s AS (
           SELECT least(floor(prob * 10), 9)::INT AS bin,
                  prob, label
           FROM read_parquet('/root/repo/spark-warehouse/q214_scored/*.parquet')),
         b AS (
           SELECT bin, count(*) AS n, avg(prob) AS avg_prob,
                  avg(label::DOUBLE) AS frac_pos
           FROM s GROUP BY bin),
         t AS (
           SELECT sum(n) AS total,
                  sum(abs(avg_prob - frac_pos) * n) AS gapsum
           FROM b)
         SELECT bin / 10.0 AS bin_lo, n,
                round(avg_prob, 4) AS avg_prob,
                round(frac_pos, 4) AS frac_pos,
                round(abs(avg_prob - frac_pos), 4) AS gap,
                round(abs(avg_prob - frac_pos) * n / t.total, 4)
                  AS ece_contrib,
                round(t.gapsum / t.total, 4) AS ece
         FROM b, t ORDER BY bin_lo""",
    // LSH recall audit: exact side = q171's SSJoin SQL at 0.5; LSH
    // side = the dumped pair set; expected recall = the proposal
    // split's S-curve averaged over true pairs
    "q215_lsh_recall_audit" -> {
      val p = graft.llmops.LshPlan.plan(0.375)
      s"""WITH tf AS (
           SELECT id, term FROM (
             SELECT doc_id AS id,
                    unnest(list_distinct(list_transform(
                      generate_series(1, greatest(len(l) - 2, 1)),
                      i -> array_to_string(
                             list_slice(l, i, i + 2), ' ')))) AS term
             FROM (SELECT doc_id,
                          string_split_regex(lower(trim(text)), '\\s+')
                            AS l
                   FROM documents
                   WHERE substring(md5(text), 1, 2) < '80'))
           WHERE term <> ''),
         dfx AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
         ranked AS (
           SELECT t.id, t.term, d.dfc,
                  count(*) OVER (PARTITION BY t.id) AS n,
                  row_number() OVER (PARTITION BY t.id
                    ORDER BY d.dfc, t.term) AS pos
           FROM tf t JOIN dfx d USING (term)),
         prefix AS (
           SELECT id, term, n FROM ranked
           WHERE pos <= n - ceil(CAST(0.5 AS DOUBLE) * n) + 1),
         cand AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM prefix a JOIN prefix b ON a.term = b.term
             AND a.id < b.id
             AND greatest(a.n, b.n) * CAST(0.5 AS DOUBLE)
                   <= least(a.n, b.n)),
         inter AS (
           SELECT c.id_a, c.id_b, count(*) AS i
           FROM cand c
           JOIN tf ta ON ta.id = c.id_a
           JOIN tf tb ON tb.id = c.id_b AND tb.term = ta.term
           GROUP BY 1, 2),
         nsz AS (SELECT id, count(*) AS n FROM tf GROUP BY 1),
         exact AS (
           SELECT i.id_a, i.id_b,
                  i.i::DOUBLE / (na.n + nb.n - i.i) AS jaccard
           FROM inter i
           JOIN nsz na ON na.id = i.id_a
           JOIN nsz nb ON nb.id = i.id_b
           WHERE i.i::DOUBLE / (na.n + nb.n - i.i)
                   >= CAST(0.5 AS DOUBLE)),
         lsh AS (
           SELECT id_a, id_b
           FROM read_parquet('/root/repo/spark-warehouse/q215_lsh_pairs/*.parquet')),
         ex AS (
           SELECT count(*) AS n_exact,
                  coalesce(sum(1.0 - pow(1.0 - pow(jaccard,
                    ${p.rowsPerBand}.0), ${p.bands}.0)), 0.0) AS expsum
           FROM exact),
         hits AS (
           SELECT count(*) AS n_common
           FROM exact e JOIN lsh l
             ON l.id_a = e.id_a AND l.id_b = e.id_b),
         fnd AS (SELECT count(*) AS n_lsh FROM lsh)
         SELECT ex.n_exact, fnd.n_lsh, hits.n_common,
                round(CASE WHEN ex.n_exact > 0
                  THEN hits.n_common / ex.n_exact::DOUBLE
                  ELSE 1.0 END, 4) AS recall,
                round(CASE WHEN fnd.n_lsh > 0
                  THEN hits.n_common / fnd.n_lsh::DOUBLE
                  ELSE 1.0 END, 4) AS precision,
                round(CASE WHEN ex.n_exact > 0
                  THEN ex.expsum / ex.n_exact ELSE 1.0 END, 4)
                  AS expected_recall
         FROM ex, hits, fnd"""
    },
    "q216_sample_audit" ->
      """WITH smp AS (
           SELECT source FROM documents
           WHERE substring(md5(text), 1, 2) < '40'),
         src AS (
           SELECT source AS category, count(*) AS n_source
           FROM documents GROUP BY 1),
         sm AS (
           SELECT source AS category, count(*) AS n_sample
           FROM smp GROUP BY 1),
         j AS (
           SELECT coalesce(src.category, sm.category) AS category,
                  coalesce(n_source, 0) AS n_source,
                  coalesce(n_sample, 0) AS n_sample
           FROM src FULL OUTER JOIN sm USING (category)),
         t AS (SELECT sum(n_source) AS ns, sum(n_sample) AS np FROM j),
         e AS (
           SELECT category, n_source, n_sample,
                  n_source * t.np / t.ns::DOUBLE AS expected,
                  CASE WHEN n_source * t.np / t.ns::DOUBLE > 0
                    THEN pow(n_sample - n_source * t.np / t.ns::DOUBLE, 2)
                         / (n_source * t.np / t.ns::DOUBLE)
                    ELSE pow(n_sample::DOUBLE, 2) END AS contrib
           FROM j, t),
         c AS (SELECT sum(contrib) AS chi2, count(*) AS k FROM e)
         SELECT category, n_source, n_sample,
                round(expected, 4) AS expected,
                round(contrib, 4) AS contrib,
                round(c.chi2, 4) AS chi2,
                (c.k - 1) AS dof
         FROM e, c ORDER BY category""",
    // BM25F: fields fold into weighted tf before saturation; idf over
    // whole-document presence; Lucene (k1+1) numerator like q103
    "q217_bm25f" ->
      """WITH base AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         f AS (
           SELECT doc_id,
                  array_to_string(list_slice(l, 1, 10), ' ') AS title,
                  CASE WHEN len(l) > 10
                       THEN array_to_string(list_slice(l, 11, len(l)), ' ')
                       ELSE '' END AS body
           FROM base),
         fl AS (
           SELECT doc_id, 0 AS fi, title AS ft FROM f
           UNION ALL
           SELECT doc_id, 1, body FROM f),
         toks AS (
           SELECT doc_id, fi,
                  CASE WHEN length(trim(ft)) = 0 THEN []::VARCHAR[]
                       ELSE string_split_regex(ft, '\s+') END AS tl
           FROM fl),
         stats AS (
           SELECT fi, avg(len(tl)::DOUBLE) AS avgdl FROM toks GROUP BY fi),
         n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         q AS (SELECT unnest(['vector', 'window', 'merge', 'stream']) AS term),
         posts AS (
           SELECT t.doc_id, t.fi, u.term,
                  count(*)::DOUBLE AS tf, any_value(len(t.tl))::DOUBLE AS dl
           FROM toks t, unnest(t.tl) AS u(term)
           WHERE u.term IN (SELECT term FROM q) AND u.term <> ''
           GROUP BY 1, 2, 3),
         wtf AS (
           SELECT p.doc_id, p.term,
                  sum(CASE WHEN p.fi = 0
                        THEN 2.0 * p.tf / (1.0 - 0.5 + 0.5 * p.dl / s.avgdl)
                        ELSE 1.0 * p.tf / (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)
                      END) AS wtf
           FROM posts p JOIN stats s ON s.fi = p.fi
           GROUP BY 1, 2),
         dfx AS (
           SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
           FROM posts GROUP BY term),
         idf AS (
           SELECT term, ln(1.0 + (n.n - df + 0.5) / (df + 0.5)) AS idf
           FROM dfx, n),
         scored AS (
           SELECT w.doc_id, count(*) AS n_terms_hit,
                  sum(i.idf * w.wtf * 2.2 / (w.wtf + 1.2)) AS score
           FROM wtf w JOIN idf i USING (term)
           GROUP BY w.doc_id)
         SELECT doc_id, n_terms_hit, round(score, 4) AS score
         FROM (SELECT *, row_number() OVER (
                 ORDER BY round(score, 4) DESC, doc_id) AS rk
               FROM scored)
         WHERE rk <= 20 ORDER BY doc_id""",
    "q218_multiprobe_ann" ->
      """WITH scored AS (
           SELECT q.query_id, c.vec_id,
                  list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS sim
           FROM read_parquet('/root/repo/spark-warehouse/q218_cb/*.parquet') c
           JOIN read_parquet('/root/repo/spark-warehouse/q218_qb/*.parquet') q USING (bucket)
           JOIN embeddings ce ON ce.vec_id = c.vec_id
           JOIN embeddings qe ON qe.vec_id = q.query_id),
         ranked AS (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
           FROM scored)
         SELECT query_id, vec_id, round(sim, 4) AS sim, rk::INTEGER AS rk
         FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""",
    // community report: the q207 LPA replay feeding the modularity /
    // conductance arithmetic over the labeled canonical edge list
    "q226_community_report" ->
      """WITH e0 AS (
           SELECT DISTINCT doc_id AS src, (doc_id * 7919 + k) % 500 AS dst
           FROM documents, (VALUES (0), (1), (2)) AS ks(k)),
         canon AS (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM e0 WHERE src <> dst),
         symm AS (SELECT u, v FROM canon
                  UNION ALL SELECT v, u FROM canon),
         nodes AS (SELECT DISTINCT u AS node FROM symm),
         l0 AS (SELECT node, node AS label FROM nodes),
         v1 AS (SELECT s.u AS node, l.label, count(*) AS n
                FROM symm s JOIN l0 l ON l.node = s.v GROUP BY 1, 2),
         w1 AS (SELECT node, label FROM (
                  SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY n DESC, label ASC) AS rk
                  FROM v1) WHERE rk = 1),
         l1 AS (SELECT n.node, coalesce(w1.label, n.node) AS label
                FROM nodes n LEFT JOIN w1 USING (node)),
         v2 AS (SELECT s.u AS node, l.label, count(*) AS n
                FROM symm s JOIN l1 l ON l.node = s.v GROUP BY 1, 2),
         w2 AS (SELECT node, label FROM (
                  SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY n DESC, label ASC) AS rk
                  FROM v2) WHERE rk = 1),
         lab AS (SELECT n.node, coalesce(w2.label, n.node) AS label
                 FROM nodes n LEFT JOIN w2 USING (node)),
         le AS (
           SELECT c.u, c.v, lu.label AS lu, lv.label AS lv
           FROM canon c
           JOIN lab lu ON lu.node = c.u
           JOIN lab lv ON lv.node = c.v),
         m AS (SELECT count(*)::DOUBLE AS m FROM le),
         intra AS (SELECT lu AS label, count(*) AS intra_edges
                   FROM le WHERE lu = lv GROUP BY 1),
         cuts AS (SELECT label, count(*) AS cut_edges FROM (
                    SELECT lu AS label FROM le WHERE lu <> lv
                    UNION ALL
                    SELECT lv FROM le WHERE lu <> lv) GROUP BY 1),
         vol AS (SELECT label, count(*) AS degree_sum FROM (
                   SELECT lu AS label FROM le
                   UNION ALL SELECT lv FROM le) GROUP BY 1),
         sizes AS (SELECT label, count(*) AS n_nodes
                   FROM lab GROUP BY 1),
         per AS (
           SELECT s.label, s.n_nodes,
                  coalesce(i.intra_edges, 0) AS intra_edges,
                  coalesce(c.cut_edges, 0) AS cut_edges,
                  coalesce(v.degree_sum, 0) AS degree_sum
           FROM sizes s
           LEFT JOIN intra i USING (label)
           LEFT JOIN cuts c USING (label)
           LEFT JOIN vol v USING (label)),
         q AS (
           SELECT round(sum(intra_edges / m.m -
                    pow(degree_sum / (2.0 * m.m), 2)), 4) + 0.0
             AS modularity
           FROM per, m)
         SELECT per.label, per.n_nodes, per.intra_edges, per.cut_edges,
                per.degree_sum,
                CASE WHEN per.cut_edges = 0 THEN 0.0
                     ELSE round(per.cut_edges /
                       least(per.degree_sum::DOUBLE,
                             2.0 * m.m - per.degree_sum), 4)
                END AS conductance,
                round(per.intra_edges / m.m -
                  pow(per.degree_sum / (2.0 * m.m), 2), 4) + 0.0
                  AS contribution,
                q.modularity
         FROM per, m, q ORDER BY per.label""",
    "q227_concentration" ->
      """WITH per AS (
           SELECT event_type AS grp, user_id AS k,
                  count(*)::DOUBLE AS x
           FROM events GROUP BY 1, 2),
         ranked AS (
           SELECT grp, k, x, row_number() OVER (
             PARTITION BY grp ORDER BY x, k) AS i
           FROM per),
         agg AS (
           SELECT grp, count(*) AS n_keys, sum(x) AS total,
                  sum(i * x) AS ix
           FROM ranked GROUP BY grp),
         dec AS (
           SELECT r.grp, sum(r.x) AS topx
           FROM ranked r JOIN agg a ON a.grp = r.grp
           WHERE r.i > a.n_keys - ceil(a.n_keys / 10.0)
           GROUP BY r.grp)
         SELECT a.grp AS "group", a.n_keys,
                a.total::BIGINT AS total,
                round(CASE WHEN a.n_keys > 1
                  THEN 2.0 * a.ix / (a.n_keys * a.total)
                       - (a.n_keys + 1.0) / a.n_keys
                  ELSE 0.0 END, 4) AS gini,
                round(coalesce(d.topx, 0) / a.total, 4) AS top10_share
         FROM agg a LEFT JOIN dec d ON d.grp = a.grp
         ORDER BY "group"""",
    "q228_ab_test" ->
      """WITH units AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'purchase' THEN 1
                      ELSE 0 END) AS conv,
                  CASE WHEN substring(md5('exp1:' || min(user_id)::VARCHAR),
                         1, 2) < '80' THEN 'a' ELSE 'b' END AS arm
           FROM events GROUP BY user_id),
         arms AS (
           SELECT arm, count(*) AS n, sum(conv)::BIGINT AS conv
           FROM units GROUP BY arm),
         ab AS (
           SELECT a.n AS n_a, b.n AS n_b,
                  a.conv AS conv_a, b.conv AS conv_b,
                  a.conv / a.n::DOUBLE AS ra, b.conv / b.n::DOUBLE AS rb,
                  (a.conv + b.conv) / (a.n + b.n)::DOUBLE AS p
           FROM (SELECT * FROM arms WHERE arm = 'a') a,
                (SELECT * FROM arms WHERE arm = 'b') b),
         z AS (
           SELECT *, sqrt(p * (1.0 - p) *
                    (1.0 / n_a + 1.0 / n_b)) AS se
           FROM ab)
         SELECT n_a, n_b, conv_a, conv_b,
                round(ra, 4) AS rate_a, round(rb, 4) AS rate_b,
                round(rb - ra, 4) AS lift,
                CASE WHEN se > 0 THEN round((rb - ra) / se, 4)
                     ELSE 0.0 END AS z,
                (abs(CASE WHEN se > 0 THEN round((rb - ra) / se, 4)
                      ELSE 0.0 END) >= 1.96) AS significant
         FROM z""",
    // TextRank: positions via generate_series, window-2 co-occurrence
    // edges, two unrolled PageRank rounds keyed (doc, term)
    "q220_textrank" ->
      """WITH base AS (
           SELECT doc_id AS id,
                  string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents WHERE doc_id < 40),
         toks AS (
           SELECT id, i AS pos, l[i] AS term
           FROM base, unnest(generate_series(1, len(l))) AS g(i)
           WHERE length(l[i]) >= 3),
         e0 AS (
           SELECT DISTINCT id, least(a, b) AS u, greatest(a, b) AS v
           FROM (
             SELECT x.id, x.term AS a, y.term AS b
             FROM toks x JOIN toks y
               ON y.id = x.id AND y.pos = x.pos + 1 AND x.term <> y.term
             UNION ALL
             SELECT x.id, x.term, y.term
             FROM toks x JOIN toks y
               ON y.id = x.id AND y.pos = x.pos + 2 AND x.term <> y.term)),
         sym AS (SELECT id, u, v FROM e0
                 UNION ALL SELECT id, v, u FROM e0),
         deg AS (SELECT id, u, count(*)::DOUBLE AS deg
                 FROM sym GROUP BY 1, 2),
         nodes AS (SELECT id, u AS term FROM deg),
         c1 AS (SELECT s.id, s.v AS term, sum(1.0 / d.deg) AS m
                FROM sym s JOIN deg d ON d.id = s.id AND d.u = s.u
                GROUP BY 1, 2),
         r1 AS (SELECT n.id, n.term,
                       0.15 + 0.85 * coalesce(c1.m, 0) AS r
                FROM nodes n LEFT JOIN c1 USING (id, term)),
         c2 AS (SELECT s.id, s.v AS term, sum(r1.r / d.deg) AS m
                FROM sym s
                JOIN deg d ON d.id = s.id AND d.u = s.u
                JOIN r1 ON r1.id = s.id AND r1.term = s.u
                GROUP BY 1, 2),
         r2 AS (SELECT n.id, n.term,
                       0.15 + 0.85 * coalesce(c2.m, 0) AS r
                FROM nodes n LEFT JOIN c2 USING (id, term))
         SELECT id AS doc_id, rk::INTEGER AS rk, term, rank FROM (
           SELECT id, term, round(r, 4) AS rank,
                  row_number() OVER (PARTITION BY id
                    ORDER BY round(r, 4) DESC, term) AS rk
           FROM r2)
         WHERE rk <= 3 ORDER BY doc_id, rk""",
    "q221_pseudonymize" ->
      """SELECT md5('rotate-2026:' || user_id::VARCHAR) AS user_id,
                count(*) AS n_events
         FROM events GROUP BY 1
         ORDER BY n_events DESC, user_id LIMIT 20""",
    "q222_k_anonymity" ->
      """WITH cls AS (
           SELECT source, lang, floor(n_chars / 200) AS len_bucket,
                  count(*) AS n
           FROM documents GROUP BY 1, 2, 3)
         SELECT 5 AS k, sum(n)::BIGINT AS n_rows, count(*) AS n_classes,
                min(n) AS min_class_size,
                sum(CASE WHEN n < 5 THEN 1 ELSE 0 END)::BIGINT
                  AS violating_classes,
                sum(CASE WHEN n < 5 THEN n ELSE 0 END)::BIGINT
                  AS violating_rows,
                round(sum(CASE WHEN n < 5 THEN n ELSE 0 END)
                  / sum(n)::DOUBLE, 4) AS violating_row_rate
         FROM cls""",
    "q223_heaps_profile" ->
      """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
         f AS (SELECT unnest([0.125, 0.25, 0.5, 1.0]::DOUBLE[]) AS fr),
         ck AS (SELECT fr, ceil((m.mx + 1) * fr) AS cut FROM f, m),
         tok AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
           FROM documents),
         tok2 AS (SELECT doc_id, t FROM tok WHERE t <> ''),
         per AS (
           SELECT ck.fr AS fraction,
                  count(DISTINCT tk.doc_id) AS n_docs,
                  count(*) AS n_tokens,
                  count(DISTINCT tk.t) AS vocab
           FROM ck JOIN tok2 tk ON tk.doc_id < ck.cut
           GROUP BY ck.fr),
         frst AS (SELECT n_tokens AS n0, vocab AS v0 FROM per
                  ORDER BY fraction LIMIT 1)
         SELECT fraction, n_docs, n_tokens, vocab,
                round(CASE WHEN per.n_tokens > frst.n0
                  THEN (ln(vocab) - ln(frst.v0))
                       / (ln(n_tokens) - ln(frst.n0))
                  ELSE 0.0 END, 4) AS beta
         FROM per, frst ORDER BY fraction""",
    // phrase search: positional adjacency replay (overlap-correct),
    // never a substring count
    "q224_phrase_search" ->
      """WITH base AS (
           SELECT doc_id AS id,
                  string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         toks AS (
           SELECT id, i AS pos, l[i] AS term
           FROM base, unnest(generate_series(1, len(l))) AS g(i)
           WHERE l[i] IN ('table', 'hash')),
         starts AS (
           SELECT a.id, a.pos AS start
           FROM toks a JOIN toks b
             ON b.id = a.id AND b.pos = a.pos + 1
           WHERE a.term = 'table' AND b.term = 'hash'),
         occ AS (SELECT id, count(*) AS n_occurrences
                 FROM starts GROUP BY id),
         lens AS (
           SELECT doc_id AS id,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)),
                            '\s+')) END::BIGINT AS n_tokens
           FROM documents)
         SELECT id AS doc_id, n_occurrences, n_tokens FROM (
           SELECT o.id, o.n_occurrences, lens.n_tokens,
                  row_number() OVER (
                    ORDER BY o.n_occurrences DESC, o.id) AS rk
           FROM occ o JOIN lens ON lens.id = o.id)
         WHERE rk <= 15 ORDER BY doc_id""",
    "q225_distinctive_terms" ->
      """WITH cnt AS (
           SELECT source AS grp, t AS term, count(*) AS y FROM (
             SELECT source,
                    unnest(string_split_regex(lower(trim(text)), '\s+'))
                      AS t
             FROM documents)
           WHERE t <> '' GROUP BY 1, 2),
         gt AS (SELECT grp, sum(y) AS ng FROM cnt GROUP BY grp),
         tt AS (SELECT term, sum(y) AS yg FROM cnt GROUP BY term),
         gl AS (SELECT sum(y) AS nn, count(DISTINCT term) AS vv FROM cnt),
         sc AS (
           SELECT c.grp, c.term, c.y, (tt.yg - c.y) AS yr,
                  round((ln((c.y + 0.01) /
                          (gt.ng + 0.01 * gl.vv - c.y - 0.01)) -
                         ln((tt.yg - c.y + 0.01) /
                          (gl.nn - gt.ng + 0.01 * gl.vv
                           - (tt.yg - c.y) - 0.01))) /
                        sqrt(1.0 / (c.y + 0.01) +
                             1.0 / (tt.yg - c.y + 0.01)), 4) AS z
           FROM cnt c
           JOIN gt ON gt.grp = c.grp
           JOIN tt ON tt.term = c.term
           CROSS JOIN gl
           WHERE c.y >= 2)
         SELECT grp AS "group", rk::INTEGER AS rk, term,
                y AS n_group, yr::BIGINT AS n_rest, z
         FROM (SELECT *, row_number() OVER (PARTITION BY grp
                 ORDER BY z DESC, term) AS rk FROM sc)
         WHERE rk <= 5 ORDER BY "group", rk""",
    // semantic chunking: planted sentences -> md5-hash embeddings ->
    // sparse cosine via bucket join -> drift boundaries -> reassembly
    "q229_semantic_chunks" ->
      """WITH s AS (
           SELECT doc_id, 0 AS pos,
                  'Alpha beta gamma delta one.' AS s
           FROM documents WHERE doc_id % 6 = 3
           UNION ALL
           SELECT doc_id, 1,
                  'Alpha beta gamma two doc' || doc_id || ' delta.'
           FROM documents WHERE doc_id % 6 = 3
           UNION ALL
           SELECT doc_id, 2, 'Omega sigma tau upsilon three.'
           FROM documents WHERE doc_id % 6 = 3
           UNION ALL
           SELECT doc_id, 3,
                  'Omega sigma tau four ' || source || ' upsilon.'
           FROM documents WHERE doc_id % 6 = 3),
         tok AS (
           SELECT doc_id, pos,
                  unnest(string_split_regex(lower(trim(s)), '\s+')) AS t
           FROM s),
         hb AS (
           SELECT doc_id, pos,
                  CAST(('0x' || substr(md5(t), 1, 8))::BIGINT % 64
                       AS INTEGER) AS bucket,
                  CASE WHEN substr(md5(t), 9, 1) < '8'
                       THEN 1 ELSE -1 END AS sgn
           FROM tok WHERE t <> ''),
         bv AS (
           SELECT doc_id, pos, bucket, sum(sgn)::DOUBLE AS v
           FROM hb GROUP BY 1, 2, 3),
         nrm AS (
           SELECT doc_id, pos, sqrt(sum(v * v)) AS n
           FROM bv GROUP BY 1, 2),
         sim AS (
           SELECT a.doc_id, b.pos AS pos,
                  round(sum(a.v * b.v) / (na.n * nb.n), 4) AS sim
           FROM bv a
           JOIN bv b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                    AND b.bucket = a.bucket
           JOIN nrm na ON na.doc_id = a.doc_id AND na.pos = a.pos
           JOIN nrm nb ON nb.doc_id = b.doc_id AND nb.pos = b.pos
           GROUP BY a.doc_id, b.pos, na.n, nb.n),
         cut AS (
           SELECT s.doc_id, s.pos, s.s,
                  CASE WHEN sim.sim IS NULL OR sim.sim < 0.3
                       THEN 1 ELSE 0 END AS c
           FROM s LEFT JOIN sim
             ON sim.doc_id = s.doc_id AND sim.pos = s.pos),
         idx AS (
           SELECT doc_id, pos, s,
                  (sum(c) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - 1)::INTEGER AS chunk_idx
           FROM cut)
         SELECT doc_id, chunk_idx,
                CAST(count(*) AS INTEGER) AS n_sentences,
                md5(string_agg(s, ' ' ORDER BY pos)) AS chunk_md5
         FROM idx GROUP BY doc_id, chunk_idx
         ORDER BY doc_id, chunk_idx""",
    // PCA->ANN: centered coords from the dumped full eigenbasis;
    // picks over the first 4 components, exact over all 8, the
    // captured-spectrum fraction from the dumped eigenvalues
    "q231_pca_ann" ->
      """WITH comp AS (
           SELECT component, idx, w
           FROM read_parquet('/root/repo/spark-warehouse/q231_components/*.parquet')),
         mn AS (
           SELECT idx, m
           FROM read_parquet('/root/repo/spark-warehouse/q231_mean/*.parquet')),
         ex AS (
           SELECT component, explained
           FROM read_parquet('/root/repo/spark-warehouse/q231_explained/*.parquet')),
         ef AS (
           SELECT round(
             sum(CASE WHEN component < 4 THEN explained ELSE 0 END)
               / sum(explained), 4) AS explained_frac
           FROM ex),
         ev AS (
           SELECT vec_id, i - 1 AS idx, embedding[i]::DOUBLE AS x
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL) e,
                unnest(generate_series(1, len(embedding))) AS g(i)),
         coords AS (
           SELECT c.component, ev.vec_id,
                  sum((ev.x - mn.m) * c.w) AS coord
           FROM ev
           JOIN mn ON mn.idx = ev.idx
           JOIN comp c ON c.idx = ev.idx
           GROUP BY 1, 2),
         sims AS (
           SELECT qc.vec_id AS query_id, cc.vec_id,
                  round(sum(CASE WHEN qc.component < 4
                    THEN qc.coord * cc.coord ELSE 0 END), 6) AS sim_r,
                  round(sum(qc.coord * cc.coord), 6) AS sim_full
           FROM coords qc
           JOIN coords cc ON cc.component = qc.component
           WHERE qc.vec_id < 5 AND cc.vec_id <> qc.vec_id
           GROUP BY 1, 2),
         picks AS (
           SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id, row_number() OVER (
               PARTITION BY query_id ORDER BY sim_r DESC, vec_id) AS rk
             FROM sims) WHERE rk <= 5),
         exact AS (
           SELECT query_id, vec_id, sim_full FROM (
             SELECT query_id, vec_id, sim_full, row_number() OVER (
               PARTITION BY query_id ORDER BY sim_full DESC, vec_id) AS rk
             FROM sims) WHERE rk <= 5),
         sa AS (
           SELECT p.query_id, sum(s.sim_full) AS sa
           FROM picks p JOIN sims s
             ON s.query_id = p.query_id AND s.vec_id = p.vec_id
           GROUP BY 1),
         se AS (SELECT query_id, sum(sim_full) AS se
                FROM exact GROUP BY 1),
         h AS (
           SELECT e.query_id, count(*) AS h
           FROM exact e JOIN picks p
             ON p.query_id = e.query_id AND p.vec_id = e.vec_id
           GROUP BY 1)
         SELECT se.query_id,
                coalesce(h.h, 0) AS n_hits,
                coalesce(h.h, 0) / 5.0 AS recall,
                round(coalesce(sa.sa, 0) / se.se, 4) AS score_ratio,
                ef.explained_frac,
                (round(coalesce(sa.sa, 0) / se.se, 4) >= 0.3) AS ratio_ok
         FROM se
         LEFT JOIN h USING (query_id)
         LEFT JOIN sa USING (query_id), ef
         ORDER BY query_id""",
    // segmented BM25: char-level mirrored with the q169 isolation
    // regex; the dictionary segmenter mirrored with a longest-word-
    // first replace chain (exact greedy-maximal-munch mirror on the
    // planted corpus — the decoy word is replaced before the query
    // word so the straddling occurrence never matches, like greedy)
    "q232_bm25_segmented" ->
      """WITH w AS (SELECT
           chr(3586)||chr(3657)||chr(3629)||chr(3617)||chr(3641)||chr(3621) AS data_w,
           chr(3617)||chr(3641)||chr(3621)||chr(3586)||chr(3657)||chr(3629) AS rev_w,
           chr(3607)||chr(3604)||chr(3626)||chr(3629)||chr(3610) AS test_w,
           chr(3588)||chr(3640)||chr(3603)||chr(3616)||chr(3634)||chr(3614) AS qual_w,
           chr(3604)||chr(3637) AS good_w),
         docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 970000 AS doc_id,
                  CASE WHEN doc_id % 2 = 0
                    THEN (SELECT data_w FROM w) ||
                         repeat((SELECT test_w FROM w), (doc_id % 3 + 1)::int)
                    ELSE repeat((SELECT rev_w FROM w), (doc_id % 3 + 2)::int)
                  END AS text
           FROM documents WHERE doc_id < 20),
         segged AS (
           SELECT 'char' AS seg, doc_id, text,
                  regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g') AS st
           FROM docs2
           UNION ALL
           SELECT 'dict', doc_id, text,
                  replace(replace(replace(replace(replace(text,
                    (SELECT rev_w FROM w), ' '||(SELECT rev_w FROM w)||' '),
                    (SELECT data_w FROM w), ' '||(SELECT data_w FROM w)||' '),
                    (SELECT test_w FROM w), ' '||(SELECT test_w FROM w)||' '),
                    (SELECT qual_w FROM w), ' '||(SELECT qual_w FROM w)||' '),
                    (SELECT good_w FROM w), ' '||(SELECT good_w FROM w)||' ')
           FROM docs2),
         tl AS (
           SELECT seg, doc_id,
                  string_split_regex(lower(trim(st)), '\s+') AS l,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(st)), '\s+'))
                  END AS dl
           FROM segged),
         stats AS (
           SELECT seg, count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl
           FROM tl GROUP BY 1),
         qdocs AS (
           SELECT 0 AS qid, (SELECT data_w FROM w) AS text
           UNION ALL
           SELECT 1, (SELECT test_w FROM w)||(SELECT good_w FROM w)),
         qsegged AS (
           SELECT 'char' AS seg, qid,
                  regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g') AS st
           FROM qdocs
           UNION ALL
           SELECT 'dict', qid,
                  replace(replace(replace(replace(replace(text,
                    (SELECT rev_w FROM w), ' '||(SELECT rev_w FROM w)||' '),
                    (SELECT data_w FROM w), ' '||(SELECT data_w FROM w)||' '),
                    (SELECT test_w FROM w), ' '||(SELECT test_w FROM w)||' '),
                    (SELECT qual_w FROM w), ' '||(SELECT qual_w FROM w)||' '),
                    (SELECT good_w FROM w), ' '||(SELECT good_w FROM w)||' ')
           FROM qdocs),
         q AS (
           SELECT DISTINCT seg, qid, term FROM (
             SELECT seg, qid,
                    unnest(string_split_regex(lower(trim(st)), '\s+')) AS term
             FROM qsegged)
           WHERE term <> ''),
         posts AS (SELECT seg, doc_id, dl, unnest(l) AS term FROM tl),
         tf AS (
           SELECT p.seg, p.doc_id, p.term, count(*)::BIGINT AS tf,
                  max(p.dl)::DOUBLE AS dl
           FROM posts p JOIN (SELECT DISTINCT seg, term FROM q) u
             ON u.seg = p.seg AND u.term = p.term
           GROUP BY 1, 2, 3),
         df AS (SELECT seg, term, count(*)::DOUBLE AS df
                FROM tf GROUP BY 1, 2),
         idf AS (
           SELECT df.seg, df.term,
                  ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5)) AS idf
           FROM df JOIN stats s ON s.seg = df.seg),
         contrib AS (
           SELECT q.seg, q.qid, tf.doc_id,
                  idf.idf * (tf.tf * (1.2 + 1)) /
                    (tf.tf + 1.2 * (1.0 - 0.75 +
                      0.75 * tf.dl / s.avgdl)) AS c
           FROM tf
           JOIN idf ON idf.seg = tf.seg AND idf.term = tf.term
           JOIN q ON q.seg = tf.seg AND q.term = tf.term
           JOIN stats s ON s.seg = tf.seg),
         sc AS (
           SELECT seg, qid, doc_id, count(*)::BIGINT AS n_terms_hit,
                  round(sum(c), 4) AS score
           FROM contrib GROUP BY 1, 2, 3),
         ranked AS (
           SELECT seg, qid, doc_id, n_terms_hit, score, row_number() OVER (
             PARTITION BY seg, qid ORDER BY score DESC, doc_id) AS rk
           FROM sc QUALIFY rk <= 8)
         SELECT seg AS segmenter, qid::BIGINT AS query_id,
                rk::INTEGER AS rk, doc_id, n_terms_hit, score
         FROM ranked ORDER BY segmenter, query_id, rk""",
    // l-diversity: two-level GROUP BY (NULL sensitive = its own
    // group), same dashboard arithmetic as q222
    "q234_l_diversity" ->
      """WITH perv AS (
           SELECT source, floor(n_chars / 500) AS len_bucket, lang,
                  count(*) AS n
           FROM documents GROUP BY 1, 2, 3),
         cls AS (
           SELECT source, len_bucket, sum(n) AS rws, count(*) AS dv
           FROM perv GROUP BY 1, 2)
         SELECT 2 AS l, sum(rws)::BIGINT AS n_rows,
                count(*) AS n_classes,
                min(dv) AS min_distinct_sensitive,
                sum(CASE WHEN dv < 2 THEN 1 ELSE 0 END)::BIGINT
                  AS violating_classes,
                sum(CASE WHEN dv < 2 THEN rws ELSE 0 END)::BIGINT
                  AS violating_rows,
                round(sum(CASE WHEN dv < 2 THEN rws ELSE 0 END)
                  / sum(rws)::DOUBLE, 4) AS violating_row_rate
         FROM cls""",
    // isotropy: spectrum stats replayed from the dumped eigenvalues;
    // norms, centroid, and the trace identity recomputed exactly from
    // the raw embeddings — the trace check audits the fit itself
    "q235_isotropy" ->
      """WITH ex AS (
           SELECT component, explained
           FROM read_parquet('/root/repo/spark-warehouse/q235_explained/*.parquet')),
         mn AS (
           SELECT idx, m
           FROM read_parquet('/root/repo/spark-warehouse/q235_mean/*.parquet')),
         pernorm AS (
           SELECT vec_id, sqrt(sum(x * x)) AS nrm, sum(x * x) AS sq
           FROM (SELECT vec_id, embedding[i]::DOUBLE AS x
                 FROM (SELECT vec_id, embedding FROM embeddings
                       WHERE embedding IS NOT NULL) e,
                      unnest(generate_series(1, len(embedding))) AS g(i))
           GROUP BY vec_id),
         nm AS (
           SELECT count(*)::BIGINT AS n_vectors,
                  avg(nrm) AS mean_norm, avg(sq) AS mean_sq_norm
           FROM pernorm),
         ag AS (
           SELECT sum(explained) AS tot,
                  sum(explained * explained) AS ss,
                  max(CASE WHEN component = 0 THEN explained END) AS l1
           FROM ex),
         cn AS (SELECT sqrt(sum(m * m)) AS centroid_norm FROM mn),
         dm AS (SELECT max(len(embedding))::INTEGER AS dim
                FROM embeddings WHERE embedding IS NOT NULL)
         SELECT nm.n_vectors, dm.dim,
                round(ag.tot, 4) AS total_var,
                round(ag.l1 / ag.tot, 4) AS top1_share,
                round(ag.tot * ag.tot / ag.ss, 4) AS participation_ratio,
                round(ag.tot * ag.tot / ag.ss / dm.dim, 4)
                  AS effective_rank_frac,
                round(cn.centroid_norm, 4) AS centroid_norm,
                round(nm.mean_norm, 4) AS mean_norm,
                (abs(ag.tot - (nm.mean_sq_norm -
                   cn.centroid_norm * cn.centroid_norm)) <=
                 greatest(1e-4, (nm.mean_sq_norm -
                   cn.centroid_norm * cn.centroid_norm) * 0.01))
                  AS trace_ok
         FROM nm, ag, cn, dm""",
    // dehyphenation: identical plant + identical RE2 repair chain in
    // both engines; the booleans assert restoration per doc
    "q236_dehyphenate" ->
      """WITH base AS (
           SELECT doc_id, text FROM documents WHERE doc_id < 200),
         planted AS (
           SELECT doc_id, text,
                  regexp_replace(text, 'er', '-' || chr(10) || 'er', 'g')
                    AS wrapped,
                  regexp_replace(text, '\. ', '.' || chr(10), 'g')
                    AS broken
           FROM base)
         SELECT doc_id,
                ((length(wrapped) - length(text)) / 2)::BIGINT AS n_wraps,
                (regexp_replace(wrapped,
                   '(\p{L})-[ \t]*\n[ \t]*(\p{L})', '\1\2', 'g') = text)
                  AS dehyph_restores,
                (regexp_replace(regexp_replace(broken,
                   '(\p{L})-[ \t]*\n[ \t]*(\p{L})', '\1\2', 'g'),
                   '([^\n])\n([^\n])', '\1 \2', 'g') = text)
                  AS unwrap_restores
         FROM planted ORDER BY doc_id""",
    // PSI: reference deciles (exact interpolated, 6dp), bin = count
    // of edges strictly below the value, clamped-log contributions
    "q237_psi_drift" ->
      """WITH refv AS (
           SELECT n_chars::DOUBLE AS v FROM documents
           WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
         curv AS (
           SELECT (n_chars + (doc_id % 7) * 40)::DOUBLE AS v
           FROM documents WHERE doc_id % 2 <> 0 AND n_chars IS NOT NULL),
         ed AS (
           SELECT list_transform(
             quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
                               0.6, 0.7, 0.8, 0.9]),
             x -> round(x, 6)) AS el
           FROM refv),
         b AS (SELECT unnest(generate_series(0, 9)) AS bin),
         rc AS (
           SELECT (SELECT count(*) FROM ed, unnest(ed.el) AS t(e)
                   WHERE e < v) AS bin, count(*) AS n_ref
           FROM refv GROUP BY 1),
         cc AS (
           SELECT (SELECT count(*) FROM ed, unnest(ed.el) AS t(e)
                   WHERE e < v) AS bin, count(*) AS n_cur
           FROM curv GROUP BY 1),
         j AS (
           SELECT b.bin, coalesce(rc.n_ref, 0)::BIGINT AS n_ref,
                  coalesce(cc.n_cur, 0)::BIGINT AS n_cur
           FROM b LEFT JOIN rc ON rc.bin = b.bin
                  LEFT JOIN cc ON cc.bin = b.bin),
         p AS (
           SELECT bin, n_ref, n_cur,
                  n_ref / (sum(n_ref) OVER ())::DOUBLE AS p_ref,
                  n_cur / (sum(n_cur) OVER ())::DOUBLE AS p_cur
           FROM j),
         c AS (
           SELECT *, (p_cur - p_ref) *
                  ln(greatest(p_cur, 1e-6) / greatest(p_ref, 1e-6))
                    AS contrib
           FROM p)
         SELECT c.bin::INTEGER AS bin,
                CASE WHEN c.bin > 0 THEN ed.el[c.bin] END AS lo,
                CASE WHEN c.bin < 9 THEN ed.el[c.bin + 1] END AS hi,
                c.n_ref, c.n_cur,
                round(c.p_ref, 4) AS p_ref, round(c.p_cur, 4) AS p_cur,
                round(c.contrib, 4) AS contrib,
                round(sum(c.contrib) OVER (), 4) AS psi
         FROM c, ed ORDER BY bin""",
    // Good-Turing: the q169 tokenizer mirror feeding one term-count
    // table, then pure arithmetic
    "q238_good_turing" ->
      """WITH tok AS (
           SELECT source,
                  unnest(string_split_regex(lower(trim(regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+')) AS t
           FROM documents),
         tc AS (
           SELECT source, t, count(*) AS c
           FROM tok WHERE t <> '' GROUP BY 1, 2)
         SELECT source, sum(c)::BIGINT AS n_tokens, count(*) AS vocab,
                sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT
                  AS singletons,
                sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT
                  AS doubletons,
                round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                  / sum(c)::DOUBLE, 4) AS unseen_mass,
                round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                  / count(*)::DOUBLE, 4) AS singleton_share,
                CASE WHEN sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) > 0
                  THEN round(2.0 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                    / sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE, 4)
                END AS gt_singleton_discount
         FROM tc GROUP BY source ORDER BY source""",
    // card redaction: candidate regex + digit-by-digit Luhn replayed;
    // redaction pinned by occurrence-count length arithmetic (replace
    // is literal-string replace-all in both engines)
    "q239_card_redaction" ->
      """WITH planted AS (
           SELECT doc_id, text || ' card: ' ||
                  (['4111111111111111', '4111 1111 1111 1111',
                    '5500-0055-5555-5559', '4111111111111112'])
                    [(doc_id % 4 + 1)::int] AS t2
           FROM documents WHERE doc_id < 100 AND text IS NOT NULL),
         cands AS (
           SELECT doc_id, t2,
                  unnest(regexp_extract_all(t2,
                    '\b\d(?:[ -]?\d){12,18}\b')) AS raw
           FROM planted),
         luhn AS (
           SELECT doc_id, t2, raw,
                  (length(regexp_replace(raw, '[ -]', '', 'g'))
                     BETWEEN 13 AND 19) AND
                  ((SELECT sum(CASE WHEN g.i % 2 = 0 THEN
                      CASE WHEN substring(reverse(regexp_replace(raw,
                             '[ -]', '', 'g')), g.i, 1)::INT * 2 > 9
                        THEN substring(reverse(regexp_replace(raw,
                             '[ -]', '', 'g')), g.i, 1)::INT * 2 - 9
                        ELSE substring(reverse(regexp_replace(raw,
                             '[ -]', '', 'g')), g.i, 1)::INT * 2 END
                    ELSE substring(reverse(regexp_replace(raw,
                           '[ -]', '', 'g')), g.i, 1)::INT END)
                    FROM unnest(generate_series(1,
                      length(regexp_replace(raw, '[ -]', '', 'g'))))
                      AS g(i)) % 10 = 0) AS ok
           FROM cands),
         vdist AS (SELECT DISTINCT doc_id, t2, raw FROM luhn WHERE ok),
         vocc AS (
           SELECT doc_id,
                  length(regexp_extract_all(t2, '\b' || raw || '\b'))
                    AS occ,
                  length(raw) AS lr
           FROM vdist),
         rem AS (
           SELECT doc_id, sum(occ * (lr - 6)) AS removed,
                  sum(occ) AS tags
           FROM vocc GROUP BY 1),
         pc AS (SELECT doc_id, count(*) AS nc FROM cands GROUP BY 1),
         pv AS (SELECT doc_id, count(*) AS nv
                FROM luhn WHERE ok GROUP BY 1)
         SELECT p.doc_id,
                coalesce(pc.nc, 0)::INTEGER AS n_candidates,
                coalesce(pv.nv, 0)::INTEGER AS n_valid,
                (length(p.t2) - coalesce(rem.removed, 0))::INTEGER
                  AS redacted_len,
                coalesce(rem.tags, 0)::INTEGER AS n_tags
         FROM planted p
         LEFT JOIN pc USING (doc_id)
         LEFT JOIN pv USING (doc_id)
         LEFT JOIN rem USING (doc_id)
         ORDER BY p.doc_id""",
    // embedding outliers: centroid, distances, z-scores, and the
    // rounded-rank top-10 all recomputed exactly
    "q240_embedding_outliers" ->
      """WITH base AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         pl AS (
           SELECT vec_id, embedding FROM base
           UNION ALL
           SELECT 990000::BIGINT,
                  list_transform(embedding, x -> (x * 100)::REAL)
           FROM base WHERE vec_id = 0),
         ev AS (
           SELECT vec_id, i - 1 AS idx, embedding[i]::DOUBLE AS x
           FROM pl, unnest(generate_series(1, len(embedding))) AS g(i)),
         mu AS (SELECT idx, avg(x) AS m FROM ev GROUP BY idx),
         dist AS (
           SELECT vec_id, sqrt(sum((x - m) * (x - m))) AS dist
           FROM ev JOIN mu USING (idx) GROUP BY vec_id),
         st AS (SELECT avg(dist) AS mu, stddev_pop(dist) AS sd
                FROM dist),
         z AS (
           SELECT vec_id, round(dist, 4) AS dist,
                  round(CASE WHEN st.sd > 0
                    THEN (dist - st.mu) / st.sd ELSE 0 END, 4) AS z
           FROM dist, st),
         r AS (
           SELECT vec_id, dist, z, row_number() OVER (
             ORDER BY z DESC, vec_id) AS rk
           FROM z QUALIFY rk <= 10)
         SELECT rk::INTEGER AS rk, vec_id, dist, z
         FROM r ORDER BY rk""",
    // graph health: distinct edges, reciprocity semi-join, and the
    // Pearson moment formula term by term
    "q241_graph_health" ->
      """WITH raw AS (
           SELECT doc_id AS src, (doc_id * 7919 + 1) % 500 AS dst
           FROM documents
           UNION ALL
           SELECT doc_id, (doc_id + 3) % 500 FROM documents
           UNION ALL
           SELECT (doc_id + 3) % 500, doc_id FROM documents
           WHERE doc_id % 5 = 0
           UNION ALL
           SELECT doc_id, doc_id FROM documents WHERE doc_id % 97 = 0),
         e AS (SELECT DISTINCT src AS s, dst AS t FROM raw),
         ns AS (SELECT s, t FROM e WHERE s <> t),
         rcp AS (
           SELECT count(*) AS r FROM ns a
           WHERE EXISTS (SELECT 1 FROM ns b
                         WHERE b.s = a.t AND b.t = a.s)),
         outd AS (SELECT s, count(*) AS od FROM ns GROUP BY s),
         ind AS (SELECT t, count(*) AS id_ FROM ns GROUP BY t),
         pe AS (
           SELECT od::DOUBLE AS x, id_::DOUBLE AS y
           FROM ns JOIN outd USING (s) JOIN ind USING (t)),
         mom AS (
           SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
                  sum(x * y) AS sxy, sum(x * x) AS sxx,
                  sum(y * y) AS syy
           FROM pe),
         cnt AS (
           SELECT count(*)::BIGINT AS n_edges,
                  sum(CASE WHEN s = t THEN 1 ELSE 0 END)::BIGINT
                    AS n_self_loops
           FROM e)
         SELECT cnt.n_edges, cnt.n_self_loops,
                round(CASE WHEN mom.n > 0
                  THEN rcp.r / mom.n ELSE 0 END, 4) AS reciprocity,
                round(CASE WHEN mom.n * mom.sxx - mom.sx * mom.sx > 0
                        AND mom.n * mom.syy - mom.sy * mom.sy > 0
                  THEN (mom.n * mom.sxy - mom.sx * mom.sy) /
                       sqrt((mom.n * mom.sxx - mom.sx * mom.sx) *
                            (mom.n * mom.syy - mom.sy * mom.sy))
                  END, 4) AS assortativity
         FROM cnt, rcp, mom""",
    // fuzzy pairs: DuckDB's OWN jaro_winkler_similarity judges the
    // kernel — an independent implementation, not a mirror
    "q243_fuzzy_pairs" ->
      """WITH base AS (
           SELECT doc_id,
                  lower(string_split_regex(trim(text), '\s+')[1]) AS name
           FROM documents WHERE doc_id < 200 AND text IS NOT NULL),
         b2 AS (SELECT doc_id, name FROM base WHERE length(name) >= 4),
         twins AS (
           SELECT doc_id + 980000 AS doc_id,
                  substring(name, 1, 1) || substring(name, 3, 1) ||
                  substring(name, 2, 1) || substring(name, 4) AS name
           FROM b2 WHERE doc_id < 30),
         al AS (SELECT * FROM b2 UNION ALL SELECT * FROM twins),
         slim AS (
           SELECT doc_id, name, unnest(list_distinct([
                    concat(substring(name, 1, 1), '_',
                      (length(name) // 4)::VARCHAR),
                    concat(substring(name, 1, 1), '_',
                      ((length(name) + 1) // 4)::VARCHAR)])) AS blk
           FROM al),
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.name AS name_a, b.name AS name_b,
                  round(jaro_winkler_similarity(a.name, b.name), 4) AS jw
           FROM slim a JOIN slim b
             ON b.blk = a.blk AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, name_a, name_b, jw
         FROM pairs WHERE jw >= 0.85
         ORDER BY id_a, id_b""",
    // change point: cumsums + two-segment means + earliest argmax
    "q244_change_point" ->
      """WITH c AS (
           SELECT event_type, epoch_ms(ts) // 3600000 AS bucket,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, bucket, n,
                  row_number() OVER pw AS idx,
                  sum(n) OVER (PARTITION BY event_type ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum,
                  count(*) OVER (PARTITION BY event_type) AS t,
                  sum(n) OVER (PARTITION BY event_type) AS tot
           FROM c
           WINDOW pw AS (PARTITION BY event_type ORDER BY bucket)),
         s AS (
           SELECT event_type, bucket, idx,
                  t - idx AS n_after,
                  cum / idx::DOUBLE AS mb,
                  (tot - cum) / (t - idx)::DOUBLE AS ma,
                  round(idx * (t - idx) / t::DOUBLE *
                    (cum / idx::DOUBLE -
                     (tot - cum) / (t - idx)::DOUBLE) ^ 2, 4) AS score
           FROM w WHERE idx < t),
         pick AS (
           SELECT event_type, bucket AS split_bucket,
                  idx AS n_before, n_after,
                  round(mb, 4) AS mean_before, round(ma, 4) AS mean_after,
                  score, row_number() OVER (PARTITION BY event_type
                    ORDER BY score DESC, bucket) AS rk
           FROM s QUALIFY rk = 1)
         SELECT event_type, split_bucket, n_before::BIGINT AS n_before,
                n_after::BIGINT AS n_after, mean_before, mean_after,
                score
         FROM pick ORDER BY event_type""",
    // profile drift: null rates per column recomputed from the same
    // derivations; presence booleans by construction
    "q245_profile_drift" ->
      """WITH n AS (SELECT count(*)::DOUBLE AS c FROM documents)
         SELECT * FROM (
           SELECT 'doc_id' AS col_name, TRUE AS in_from, TRUE AS in_to,
                  round((SELECT sum(CASE WHEN doc_id IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4)
                    AS null_rate_from,
                  round((SELECT sum(CASE WHEN doc_id IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4)
                    AS null_rate_to,
                  0.0 AS null_rate_delta
           FROM n
           UNION ALL
           SELECT 'source', TRUE, TRUE,
                  round((SELECT sum(CASE WHEN source IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4),
                  round((SELECT sum(CASE WHEN source IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4),
                  0.0
           FROM n
           UNION ALL
           SELECT 'lang', TRUE, TRUE,
                  round((SELECT sum(CASE WHEN lang IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4),
                  round((SELECT sum(CASE WHEN lang IS NULL OR
                    doc_id % 13 = 0 THEN 1 ELSE 0 END)
                    FROM documents) / n.c, 4),
                  round((SELECT sum(CASE WHEN lang IS NULL OR
                    doc_id % 13 = 0 THEN 1 ELSE 0 END)
                    FROM documents) / n.c -
                    (SELECT sum(CASE WHEN lang IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4)
           FROM n
           UNION ALL
           SELECT 'n_chars', TRUE, FALSE,
                  round((SELECT sum(CASE WHEN n_chars IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4),
                  NULL, NULL
           FROM n
           UNION ALL
           SELECT 'len_bucket', FALSE, TRUE, NULL,
                  round((SELECT sum(CASE WHEN n_chars IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4),
                  NULL
           FROM n)
         ORDER BY col_name""",
    // soft dedup: CC from the dumped LSH edges (the q69 recursive
    // CTE), singleton fallback, exact weight arithmetic
    "q246_soft_dedup" ->
      """WITH RECURSIVE sym AS (
           SELECT id_a AS u, id_b AS v
           FROM read_parquet('/root/repo/spark-warehouse/q246_edges/*.parquet')
           UNION
           SELECT id_b, id_a
           FROM read_parquet('/root/repo/spark-warehouse/q246_edges/*.parquet')),
         nodes AS (SELECT DISTINCT u AS id FROM sym),
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT sym.v, walk.comp FROM walk JOIN sym ON sym.u = walk.id),
         labels AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
         lab2 AS (
           SELECT d.doc_id, coalesce(l.component, d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
         sz AS (SELECT cluster_id, count(*) AS cluster_size
                FROM lab2 GROUP BY 1)
         SELECT doc_id, cluster_id, cluster_size,
                round(1.0 / cluster_size, 4) AS weight
         FROM lab2 JOIN sz USING (cluster_id)
         ORDER BY doc_id""",
    // entity clusters: CC from the dumped fuzzy pairs; the canonical
    // record is the min-id member
    "q247_entity_clusters" ->
      """WITH RECURSIVE base AS (
           SELECT doc_id,
                  lower(string_split_regex(trim(text), '\s+')[1]) AS name
           FROM documents WHERE doc_id < 200 AND text IS NOT NULL),
         b2 AS (SELECT doc_id, name FROM base WHERE length(name) >= 4),
         twins AS (
           SELECT doc_id + 980000 AS doc_id,
                  substring(name, 1, 1) || substring(name, 3, 1) ||
                  substring(name, 2, 1) || substring(name, 4) AS name
           FROM b2 WHERE doc_id < 30),
         al AS (SELECT * FROM b2 UNION ALL SELECT * FROM twins),
         sym AS (
           SELECT id_a AS u, id_b AS v
           FROM read_parquet('/root/repo/spark-warehouse/q247_pairs/*.parquet')
           UNION
           SELECT id_b, id_a
           FROM read_parquet('/root/repo/spark-warehouse/q247_pairs/*.parquet')),
         nodes AS (SELECT DISTINCT u AS id FROM sym),
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT sym.v, walk.comp FROM walk JOIN sym ON sym.u = walk.id),
         labels AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
         lab2 AS (
           SELECT al.doc_id AS id, al.name,
                  coalesce(l.component, al.doc_id) AS entity_id
           FROM al LEFT JOIN labels l ON l.id = al.doc_id),
         agg AS (
           SELECT entity_id, count(*) AS n_members,
                  array_to_string(list_sort(array_agg(id)), ',') AS members
           FROM lab2 GROUP BY 1)
         SELECT a.entity_id, a.n_members, c.name AS canonical_name,
                a.members
         FROM agg a JOIN lab2 c ON c.id = a.entity_id
         ORDER BY a.entity_id""",
    // quote spans: positional grams, the decontam anchor join, and
    // gaps-and-islands replayed relationally
    "q249_quote_spans" ->
      """WITH ctk AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS tk
           FROM documents WHERE text IS NOT NULL),
         cg AS (
           SELECT doc_id AS corpus_id, i - 1 AS pos,
                  array_to_string(tk[i : least(i + 7, len(tk))], ' ') AS g
           FROM ctk,
                unnest(generate_series(1, greatest(len(tk) - 7, 1)))
                  AS s(i)),
         btk AS (
           SELECT doc_id + 990000 AS ref_id,
                  string_split_regex(lower(trim(
                    'benchframe opens here ' ||
                    array_to_string(tk[5 : 25], ' ') ||
                    ' and benchframe closes')), '\s+') AS tk
           FROM ctk WHERE doc_id < 10),
         bg AS (
           SELECT DISTINCT ref_id,
                  array_to_string(tk[i : least(i + 7, len(tk))], ' ') AS g
           FROM btk,
                unnest(generate_series(1, greatest(len(tk) - 7, 1)))
                  AS s(i)),
         h AS (
           SELECT cg.corpus_id, bg.ref_id, cg.pos
           FROM cg JOIN bg USING (g)),
         isl AS (
           SELECT corpus_id, ref_id, pos,
                  pos - row_number() OVER (
                    PARTITION BY corpus_id, ref_id ORDER BY pos) AS grp
           FROM h),
         runs AS (
           SELECT corpus_id, ref_id, grp, count(*) AS run
           FROM isl GROUP BY 1, 2, 3),
         f AS (
           SELECT corpus_id, ref_id,
                  sum(run)::BIGINT AS shared_ngrams,
                  (max(run) + 7)::BIGINT AS max_quote_tokens
           FROM runs GROUP BY 1, 2)
         SELECT * FROM f WHERE shared_ngrams >= 3
         ORDER BY corpus_id, ref_id""",
    // append publish: the three doc_id%3 slices partition documents,
    // so the current chain is the whole table and v2's chain drops
    // the %3=2 slice; the lineage string is fixed by construction
    "q250_append_publish" ->
      """SELECT (SELECT count(*) FROM documents)::BIGINT AS rows_v3,
                (SELECT sum(n_chars) FROM documents)::BIGINT AS chars_v3,
                (SELECT count(*) FROM documents
                 WHERE doc_id % 3 <> 2)::BIGINT AS rows_v2,
                '3>2>1' AS lineage_v3""",
    // Cohen's kappa: marginal products over the label space; kappa
    // from the ROUNDED po/pe exactly as the engine computes it
    "q251_cohen_kappa" ->
      """WITH lab AS (
           SELECT lang AS a,
                  CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END AS b
           FROM documents
           WHERE doc_id < 500 AND lang IS NOT NULL
             AND doc_id % 13 <> 0),
         base AS (
           SELECT count(*)::BIGINT AS n_items,
                  round(avg(CASE WHEN a = b THEN 1.0 ELSE 0.0
                    END)::DOUBLE, 4) AS po
           FROM lab),
         ma AS (SELECT a AS lbl, count(*) AS na FROM lab GROUP BY 1),
         mb AS (SELECT b AS lbl, count(*) AS nb FROM lab GROUP BY 1),
         pr AS (
           SELECT coalesce(sum(na * nb), 0)::BIGINT AS ab
           FROM ma JOIN mb USING (lbl)),
         f AS (
           SELECT n_items, po,
                  round(ab / (n_items * n_items)::DOUBLE, 4) AS pe
           FROM base, pr)
         SELECT n_items, po, pe,
                CASE WHEN pe < 1.0
                  THEN round((po - pe) / (1.0 - pe), 4) END AS kappa
         FROM f""",
    // ROUGE-N: same tokenization, clipped bag bigrams, rounded
    // metrics in the same order (f1 from the rounded p/r)
    "q252_rouge_n" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(
                    regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+'), t -> t <> '') AS tk
           FROM documents WHERE doc_id < 300 AND text IS NOT NULL),
         prs AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 17 = 0 THEN []
                       ELSE tk[1:30] END AS ct,
                  tk[11:40] AS rt
           FROM toks),
         cg AS (
           SELECT doc_id, ct[i.i] || ' ' || ct[i.i + 1] AS g,
                  count(*) AS nc
           FROM prs, unnest(generate_series(1, len(ct) - 1)) AS i(i)
           GROUP BY 1, 2),
         rg AS (
           SELECT doc_id, rt[i.i] || ' ' || rt[i.i + 1] AS g,
                  count(*) AS nr
           FROM prs, unnest(generate_series(1, len(rt) - 1)) AS i(i)
           GROUP BY 1, 2),
         j AS (
           SELECT coalesce(cg.doc_id, rg.doc_id) AS doc_id,
                  coalesce(nc, 0) AS nc, coalesce(nr, 0) AS nr
           FROM cg FULL OUTER JOIN rg
             ON cg.doc_id = rg.doc_id AND cg.g = rg.g),
         ag AS (
           SELECT doc_id, sum(nc)::BIGINT AS n_cand,
                  sum(nr)::BIGINT AS n_ref,
                  sum(least(nc, nr))::BIGINT AS overlap
           FROM j GROUP BY 1),
         f AS (
           SELECT p.doc_id,
                  coalesce(n_cand, 0)::BIGINT AS n_cand,
                  coalesce(n_ref, 0)::BIGINT AS n_ref,
                  coalesce(overlap, 0)::BIGINT AS overlap
           FROM prs p LEFT JOIN ag ON p.doc_id = ag.doc_id),
         m AS (
           SELECT doc_id, n_cand, n_ref, overlap,
                  round(CASE WHEN n_cand > 0
                    THEN overlap / n_cand::DOUBLE ELSE 0 END, 4)
                    AS "precision",
                  round(CASE WHEN n_ref > 0
                    THEN overlap / n_ref::DOUBLE ELSE 0 END, 4)
                    AS recall
           FROM f)
         SELECT doc_id, n_cand, n_ref, overlap, "precision", recall,
                round(CASE WHEN "precision" + recall > 0
                  THEN 2.0 * "precision" * recall /
                       ("precision" + recall) ELSE 0 END, 4) AS f1
         FROM m ORDER BY doc_id""",
    // chat audit: DuckDB's OWN JSON functions re-parse the dumped
    // transcripts — a cross-engine parse, not a mirror
    "q253_chat_audit" ->
      """WITH c AS (
           SELECT convo_id, convo_json,
                  json_valid(convo_json) AS parsed
           FROM read_parquet(
             '/root/repo/spark-warehouse/q253_convos/*.parquet')),
         d AS (
           SELECT convo_id, i.i AS i,
                  json_extract_string(convo_json,
                    '$[' || i.i || '].role') AS role,
                  json_extract_string(convo_json,
                    '$[' || i.i || '].content') AS content
           FROM c, unnest(generate_series(0,
             CASE WHEN parsed
               THEN json_array_length(convo_json)::INT - 1
               ELSE -1 END)) AS i(i)),
         w AS (
           SELECT *, lag(role) OVER (PARTITION BY convo_id ORDER BY i)
                       AS prev
           FROM d),
         ag AS (
           SELECT convo_id,
                  count(*)::INT AS n_turns,
                  max(CASE WHEN i = 0 AND role = 'user'
                    THEN 1 ELSE 0 END) = 1 AS starts_with_user,
                  sum(CASE WHEN i > 0
                    AND role IS NOT DISTINCT FROM prev
                    THEN 1 ELSE 0 END) = 0 AS alternates,
                  sum(CASE WHEN content IS NULL OR content = ''
                    THEN 1 ELSE 0 END)::INT AS n_empty,
                  sum(CASE WHEN role = 'user' THEN length(content)
                    ELSE 0 END)::BIGINT AS user_chars,
                  sum(CASE WHEN role = 'assistant'
                    THEN length(content) ELSE 0 END)::BIGINT
                    AS assistant_chars,
                  sum(CASE WHEN role IS NULL
                    OR role NOT IN ('user', 'assistant')
                    THEN coalesce(length(content), 0) ELSE 0
                    END)::BIGINT AS other_chars,
                  sum(CASE WHEN role IS NULL
                    OR role NOT IN ('user', 'assistant')
                    THEN 1 ELSE 0 END)::INT AS n_unknown_role
           FROM w GROUP BY 1)
         SELECT c.convo_id, c.parsed,
                -- coalesce: a valid empty '[]' transcript has no turn
                -- rows, but audits as zero turns, not null
                CASE WHEN parsed THEN coalesce(n_turns, 0) END
                  AS n_turns,
                CASE WHEN parsed
                  THEN coalesce(starts_with_user, false) END
                  AS starts_with_user,
                CASE WHEN parsed THEN coalesce(alternates, true) END
                  AS alternates,
                CASE WHEN parsed THEN coalesce(n_empty, 0) END
                  AS n_empty,
                CASE WHEN parsed THEN coalesce(user_chars, 0) END
                  AS user_chars,
                CASE WHEN parsed THEN coalesce(assistant_chars, 0) END
                  AS assistant_chars,
                CASE WHEN parsed THEN coalesce(other_chars, 0) END
                  AS other_chars,
                CASE WHEN parsed THEN coalesce(n_unknown_role, 0) END
                  AS n_unknown_role
         FROM c LEFT JOIN ag USING (convo_id)
         ORDER BY convo_id""",
    // Burrows' Delta: vocab head (count desc, term), dense grid with
    // genuine zeros, population-sd z-scores, pairwise mean |dz|
    "q254_burrows_delta" ->
      """WITH tok AS (
           SELECT source AS g,
                  unnest(string_split_regex(lower(trim(regexp_replace(
                    text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+')) AS w
           FROM documents
           WHERE text IS NOT NULL AND source IS NOT NULL),
         gw AS (
           SELECT g, w, count(*) AS n
           FROM tok WHERE w <> '' GROUP BY 1, 2),
         voc AS (
           SELECT w FROM (
             SELECT w, sum(n) AS tot,
                    row_number() OVER (ORDER BY sum(n) DESC, w) AS rk
             FROM gw GROUP BY w) WHERE rk <= 40),
         gt AS (SELECT g, sum(n) AS gtot FROM gw GROUP BY 1),
         grid AS (
           SELECT gt.g, voc.w,
                  coalesce(gw.n, 0) / gt.gtot::DOUBLE AS f
           FROM gt CROSS JOIN voc
           LEFT JOIN gw ON gw.g = gt.g AND gw.w = voc.w),
         st AS (
           SELECT w, avg(f) AS mu, stddev_pop(f) AS sd
           FROM grid GROUP BY 1),
         z AS (
           SELECT grid.g, grid.w,
                  CASE WHEN sd > 0 THEN (f - mu) / sd ELSE 0 END AS z
           FROM grid JOIN st USING (w))
         SELECT a.g AS group_a, b.g AS group_b,
                round(avg(abs(a.z - b.z)), 4) AS delta
         FROM z a JOIN z b ON a.w = b.w AND a.g < b.g
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // split leakage: grouping replayed from the dumped LSH edges +
    // the same split derivation (planted copies carry id >= 700000)
    "q255_split_leakage" ->
      """WITH e AS (
           SELECT id_a, id_b FROM read_parquet(
             '/root/repo/spark-warehouse/q255_edges/*.parquet')),
         ids AS (
           SELECT id_a AS id FROM e UNION SELECT id_b FROM e),
         sp AS (
           SELECT id,
                  CASE WHEN id >= 700000 THEN 'test'
                       WHEN id % 10 < 8 THEN 'train'
                       WHEN id % 10 = 8 THEN 'val'
                       ELSE 'test' END AS s
           FROM ids),
         p AS (
           SELECT least(sa.s, sb.s) AS split_a,
                  greatest(sa.s, sb.s) AS split_b
           FROM e JOIN sp sa ON sa.id = e.id_a
                  JOIN sp sb ON sb.id = e.id_b)
         SELECT split_a, split_b, count(*)::BIGINT AS n_pairs,
                split_a <> split_b AS straddling
         FROM p GROUP BY 1, 2 ORDER BY 1, 2""",
    // Krippendorff: coincidence-matrix arithmetic; alpha from the
    // UNROUNDED D_o/D_e, displayed values 4dp
    "q258_krippendorff_alpha" ->
      """WITH lab AS (
           SELECT doc_id AS u, unnest([
             lang,
             CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END,
             CASE WHEN doc_id % 11 = 0 THEN NULL
                  WHEN doc_id % 13 = 0 THEN 'yy'
                  ELSE lang END]) AS c
           FROM documents WHERE doc_id < 400 AND lang IS NOT NULL),
         l2 AS (SELECT u, c FROM lab WHERE c IS NOT NULL),
         nuc AS (SELECT u, c, count(*) AS nuc FROM l2 GROUP BY 1, 2),
         mu AS (SELECT u, sum(nuc) AS mu FROM nuc GROUP BY 1),
         units AS (
           SELECT nuc.u, nuc.c, nuc.nuc, mu.mu
           FROM nuc JOIN mu USING (u) WHERE mu >= 2),
         d AS (
           SELECT coalesce(sum(nuc * (mu - nuc) / (mu - 1)::DOUBLE),
                    0) AS donum,
                  coalesce(sum(nuc), 0)::BIGINT AS n
           FROM units),
         e AS (
           SELECT coalesce(sum(nc * nc), 0)::BIGINT AS nc2
           FROM (SELECT c, sum(nuc) AS nc FROM units GROUP BY 1)),
         f AS (
           SELECT n AS n_pairable,
                  CASE WHEN n >= 2 THEN donum / n END AS dov,
                  CASE WHEN n >= 2 THEN
                    (n * n - nc2)::DOUBLE / (n * (n - 1)) END AS dev
           FROM d, e)
         SELECT n_pairable, round(dov, 4) AS d_o, round(dev, 4) AS d_e,
                CASE WHEN dev > 0
                  THEN round(1.0 - dov / dev, 4) END AS alpha
         FROM f""",
    // keep-policy dedup: max (order, id) per content group
    "q256_keep_policy_dedup" ->
      """WITH dup AS (
           SELECT doc_id, text FROM documents WHERE text IS NOT NULL
           UNION ALL
           SELECT doc_id + 800000, text FROM documents
           WHERE text IS NOT NULL AND doc_id % 3 = 0)
         SELECT max(doc_id) AS doc_id FROM dup
         GROUP BY md5(text) ORDER BY doc_id""",
    // politeness audit: the same lag window over epoch-ms per host
    "q257_politeness_audit" ->
      """WITH f AS (
           SELECT 'h' || (user_id % 40)::VARCHAR AS host,
                  epoch_ms(ts) AS ms
           FROM events),
         g AS (
           SELECT host, ms,
                  ms - lag(ms) OVER (PARTITION BY host ORDER BY ms)
                    AS gap
           FROM f),
         a AS (
           SELECT host, count(*)::BIGINT AS n_fetches,
                  count(gap)::BIGINT AS n_gaps,
                  min(gap)::BIGINT AS min_gap_ms,
                  round(avg(gap), 4) AS mean_gap_ms,
                  coalesce(sum(CASE WHEN gap < 60000 THEN 1
                    ELSE 0 END), 0)::BIGINT AS n_violations
           FROM g GROUP BY 1)
         SELECT host, n_fetches, n_gaps, min_gap_ms, mean_gap_ms,
                n_violations, n_violations = 0 AS ok
         FROM a ORDER BY host""",
    // ROUGE-L: token counts from DuckDB's own tokenization, LCS from
    // the dumped kernel values, metric arithmetic replayed
    "q259_rouge_l" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(
                    regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+'), t -> t <> '') AS tk
           FROM documents WHERE doc_id < 300 AND text IS NOT NULL),
         prs AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 17 = 0 THEN []
                       ELSE tk[1:30] END AS ct,
                  tk[11:40] AS rt
           FROM toks),
         l AS (
           SELECT doc_id, lcs FROM read_parquet(
             '/root/repo/spark-warehouse/q259_lcs/*.parquet')),
         m AS (
           SELECT p.doc_id, len(ct)::BIGINT AS n_cand,
                  len(rt)::BIGINT AS n_ref, l.lcs::BIGINT AS lcs
           FROM prs p JOIN l ON p.doc_id = l.doc_id),
         r AS (
           SELECT doc_id, n_cand, n_ref, lcs,
                  round(CASE WHEN n_cand > 0
                    THEN lcs / n_cand::DOUBLE ELSE 0 END, 4)
                    AS "precision",
                  round(CASE WHEN n_ref > 0
                    THEN lcs / n_ref::DOUBLE ELSE 0 END, 4) AS recall
           FROM m)
         SELECT doc_id, n_cand, n_ref, lcs, "precision", recall,
                round(CASE WHEN "precision" + recall > 0
                  THEN 2.0 * "precision" * recall /
                       ("precision" + recall) ELSE 0 END, 4) AS f1
         FROM r ORDER BY doc_id""",
    // weighted kappa: observed/expected disagreement mass under the
    // span-normalized quadratic weight, marginal grid from the
    // confusion matrix
    "q260_weighted_kappa" ->
      """WITH lab AS (
           SELECT (n_chars % 5 + 1)::INT AS a,
                  least((n_chars % 5 + 1)
                    + CASE WHEN doc_id % 11 = 0 THEN 3
                           WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END,
                    5)::INT AS b
           FROM documents
           WHERE doc_id < 500 AND n_chars IS NOT NULL
             AND doc_id % 13 <> 0),
         base AS (
           SELECT count(*)::BIGINT AS n,
                  (max(greatest(a, b)) - min(least(a, b)))::DOUBLE
                    AS span
           FROM lab),
         dobs AS (
           SELECT coalesce(sum(CASE WHEN span > 0
             THEN ((a - b) / span) * ((a - b) / span)
             ELSE 0 END), 0) AS dnum
           FROM lab, base),
         ma AS (SELECT a AS v, count(*) AS na FROM lab GROUP BY 1),
         mb AS (SELECT b AS v, count(*) AS nb FROM lab GROUP BY 1),
         dexp AS (
           SELECT coalesce(sum(na::DOUBLE * nb * CASE WHEN span > 0
             THEN ((ma.v - mb.v) / span) * ((ma.v - mb.v) / span)
             ELSE 0 END), 0) AS enum
           FROM ma, mb, base),
         f AS (
           SELECT n, round(dnum / n, 4) AS d_o,
                  round(enum / (n::DOUBLE * n), 4) AS d_e
           FROM base, dobs, dexp)
         SELECT n AS n_items, d_o, d_e,
                CASE WHEN d_e > 0
                  THEN round(1.0 - d_o / d_e, 4) END AS kappa_w
         FROM f""",
    // interval Krippendorff: per-unit moment sums (the pairwise
    // squared differences collapse to 2(m*S2 - S1^2)), alpha from
    // the unrounded ratios
    "q261_alpha_interval" ->
      """WITH lab AS (
           SELECT doc_id AS u, unnest([
             (n_chars % 7 + 1)::DOUBLE,
             (n_chars % 7 + 1)::DOUBLE
               + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END,
             CASE WHEN doc_id % 11 = 0 THEN NULL
                  ELSE (n_chars % 7 + 1)::DOUBLE
                    + CASE WHEN doc_id % 13 = 0 THEN 3 ELSE 0 END
                  END]) AS v
           FROM documents WHERE doc_id < 400 AND n_chars IS NOT NULL),
         l2 AS (SELECT u, v FROM lab WHERE v IS NOT NULL),
         pu AS (
           SELECT u, count(*)::BIGINT AS m, sum(v) AS s1,
                  sum(v * v) AS s2
           FROM l2 GROUP BY 1 HAVING count(*) >= 2),
         g AS (
           SELECT coalesce(sum(m), 0)::BIGINT AS n,
                  coalesce(sum(2.0 * (m * s2 - s1 * s1) / (m - 1)), 0)
                    AS donum,
                  coalesce(sum(s1), 0) AS gs1,
                  coalesce(sum(s2), 0) AS gs2
           FROM pu),
         f AS (
           SELECT n AS n_pairable,
                  CASE WHEN n >= 2 THEN donum / n END AS dov,
                  CASE WHEN n >= 2 THEN
                    2.0 * (n * gs2 - gs1 * gs1) / (n * (n - 1)) END
                    AS dev
           FROM g)
         SELECT n_pairable, round(dov, 4) AS d_o, round(dev, 4) AS d_e,
                CASE WHEN dev > 0
                  THEN round(1.0 - dov / dev, 4) END AS alpha
         FROM f""",
    // actionable leakage: straddling pairs with splits in id order,
    // replayed from the dumped LSH edges
    "q262_leakage_pairs" ->
      """WITH e AS (
           SELECT id_a, id_b FROM read_parquet(
             '/root/repo/spark-warehouse/q262_edges/*.parquet')),
         ids AS (
           SELECT id_a AS id FROM e UNION SELECT id_b FROM e),
         sp AS (
           SELECT id,
                  CASE WHEN id >= 700000 THEN 'test'
                       WHEN id % 10 < 8 THEN 'train'
                       WHEN id % 10 = 8 THEN 'val'
                       ELSE 'test' END AS s
           FROM ids)
         SELECT e.id_a, e.id_b, sa.s AS split_a, sb.s AS split_b
         FROM e JOIN sp sa ON sa.id = e.id_a
                JOIN sp sb ON sb.id = e.id_b
         WHERE sa.s <> sb.s
         ORDER BY e.id_a, e.id_b""",
    // Fleiss' kappa: pooled-marginal chance over the constant-panel
    // slice; off-panel items dropped and counted
    "q263_fleiss_kappa" ->
      """WITH src AS (
           SELECT doc_id, lang,
                  CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END
                    AS r2,
                  CASE WHEN doc_id % 13 = 0 THEN 'yy' ELSE lang END
                    AS r3
           FROM documents WHERE doc_id < 400 AND lang IS NOT NULL),
         lab AS (
           SELECT doc_id AS u,
                  unnest(CASE WHEN doc_id % 11 = 0
                    THEN [lang, r2, r3, 'xx']
                    ELSE [lang, r2, r3] END) AS c
           FROM src),
         nuc AS (SELECT u, c, count(*) AS nuc FROM lab GROUP BY 1, 2),
         mu AS (
           SELECT u, sum(nuc) AS m, sum(nuc * nuc) AS ss
           FROM nuc GROUP BY 1),
         kept AS (SELECT * FROM mu WHERE m = 3),
         base AS (
           SELECT count(*)::BIGINT AS n_items,
                  coalesce(avg((ss - m) / 6.0), 0) AS pbar
           FROM kept),
         drp AS (
           SELECT count(*)::BIGINT AS n_dropped FROM mu WHERE m <> 3),
         pe AS (
           SELECT coalesce(sum(nc * nc), 0)::BIGINT AS nc2 FROM (
             SELECT c, sum(nuc) AS nc
             FROM nuc JOIN kept USING (u) GROUP BY 1)),
         f AS (
           SELECT n_items, n_dropped,
                  CASE WHEN n_items > 0 THEN round(pbar, 4) END
                    AS p_bar,
                  CASE WHEN n_items > 0 THEN round(nc2 /
                    ((n_items * 3.0) * (n_items * 3.0)), 4) END AS p_e
           FROM base, drp, pe)
         SELECT n_items, n_dropped, p_bar, p_e,
                CASE WHEN p_e < 1.0
                  THEN round((p_bar - p_e) / (1.0 - p_e), 4) END
                  AS kappa
         FROM f""",
    // end-aware politeness: gaps run start vs previous END per host
    "q264_politeness_overlap" ->
      """WITH f AS (
           SELECT 'h' || (user_id % 40)::VARCHAR AS host,
                  epoch_ms(ts) AS ms,
                  epoch_ms(ts) + (event_id % 90) * 1000 AS ems
           FROM events),
         g AS (
           SELECT host, ms,
                  ms - lag(ems) OVER (PARTITION BY host
                    ORDER BY ms, ems) AS gap
           FROM f),
         a AS (
           SELECT host, count(*)::BIGINT AS n_fetches,
                  count(gap)::BIGINT AS n_gaps,
                  min(gap)::BIGINT AS min_gap_ms,
                  round(avg(gap), 4) AS mean_gap_ms,
                  coalesce(sum(CASE WHEN gap < 60000 THEN 1
                    ELSE 0 END), 0)::BIGINT AS n_violations
           FROM g GROUP BY 1)
         SELECT host, n_fetches, n_gaps, min_gap_ms, mean_gap_ms,
                n_violations, n_violations = 0 AS ok
         FROM a ORDER BY host""",
    // Gwet's AC1: averaged marginals over the label union, the
    // random-category chance term, AC1 from the rounded pair
    "q265_gwet_ac1" ->
      """WITH lab AS (
           SELECT lang AS a,
                  CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END AS b
           FROM documents
           WHERE doc_id < 500 AND lang IS NOT NULL
             AND doc_id % 13 <> 0),
         base AS (
           SELECT count(*)::BIGINT AS n,
                  coalesce(sum(CASE WHEN a = b THEN 1 ELSE 0 END),
                    0)::BIGINT AS ok
           FROM lab),
         ma AS (SELECT a AS lbl, count(*) AS na FROM lab GROUP BY 1),
         mb AS (SELECT b AS lbl, count(*) AS nb FROM lab GROUP BY 1),
         pis AS (
           SELECT lbl, coalesce(na, 0) + coalesce(nb, 0) AS tot
           FROM ma FULL OUTER JOIN mb USING (lbl)),
         g AS (
           SELECT count(*)::BIGINT AS k,
                  coalesce(sum((tot / (2.0 * n)) *
                    (1 - tot / (2.0 * n))), 0) AS sumpi
           FROM pis, base),
         f AS (
           SELECT n AS n_items,
                  round(CASE WHEN n > 0 THEN ok / n::DOUBLE
                    ELSE 0 END, 4) AS po,
                  CASE WHEN n > 0 AND k >= 2
                    THEN round(sumpi / (k - 1), 4) END AS gamma_e
           FROM base, g)
         SELECT n_items, po, gamma_e,
                CASE WHEN gamma_e < 1.0
                  THEN round((po - gamma_e) / (1.0 - gamma_e), 4) END
                  AS ac1
         FROM f""",
    // ordinal alpha: cumulative marginal walk, label-pair grid,
    // within-unit pairs; alpha from the unrounded ratios
    "q266_alpha_ordinal" ->
      """WITH lab AS (
           SELECT doc_id AS u, unnest([
             (n_chars % 7 + 1)::DOUBLE,
             (n_chars % 7 + 1)::DOUBLE
               + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END,
             CASE WHEN doc_id % 11 = 0 THEN NULL
                  ELSE (n_chars % 7 + 1)::DOUBLE
                    + CASE WHEN doc_id % 13 = 0 THEN 3 ELSE 0 END
                  END]) AS c
           FROM documents WHERE doc_id < 400 AND n_chars IS NOT NULL),
         l2 AS (SELECT u, c FROM lab WHERE c IS NOT NULL),
         nuc AS (SELECT u, c, count(*) AS nuc FROM l2 GROUP BY 1, 2),
         mu AS (SELECT u, sum(nuc) AS m FROM nuc GROUP BY 1),
         units AS (
           SELECT nuc.u, nuc.c, nuc.nuc, mu.m
           FROM nuc JOIN mu USING (u) WHERE m >= 2),
         marg AS (SELECT c, sum(nuc) AS nc FROM units GROUP BY 1),
         cum AS (
           SELECT c, nc, sum(nc) OVER (ORDER BY c) AS cm FROM marg),
         grid AS (
           SELECT a.c AS ca, b.c AS cb, a.nc AS nca, b.nc AS ncb,
                  ((b.cm - a.cm + a.nc)
                    - (a.nc + b.nc) / 2.0) *
                  ((b.cm - a.cm + a.nc)
                    - (a.nc + b.nc) / 2.0) AS d2
           FROM cum a JOIN cum b ON a.c < b.c),
         de AS (
           SELECT coalesce(sum(2.0 * nca * ncb * d2), 0) AS denum
           FROM grid),
         pr AS (
           SELECT coalesce(sum(2.0 * ua.nuc * ub.nuc * g.d2 /
             (ua.m - 1)), 0) AS donum
           FROM units ua JOIN units ub
             ON ua.u = ub.u AND ua.c < ub.c
           JOIN grid g ON g.ca = ua.c AND g.cb = ub.c),
         nn AS (SELECT coalesce(sum(nuc), 0)::BIGINT AS n FROM units),
         f AS (
           SELECT n AS n_pairable,
                  CASE WHEN n >= 2 THEN donum / n END AS dov,
                  CASE WHEN n >= 2
                    THEN denum / (n * (n - 1)) END AS dev
           FROM nn, pr, de)
         SELECT n_pairable, round(dov, 4) AS d_o, round(dev, 4) AS d_e,
                CASE WHEN dev > 0
                  THEN round(1.0 - dov / dev, 4) END AS alpha
         FROM f""",
    // consensus labels: the struct-argmax replayed with a row_number
    // window (count desc, label desc)
    "q267_consensus_labels" ->
      """WITH lab AS (
           SELECT doc_id, unnest([
             lang,
             CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END,
             CASE WHEN doc_id % 13 = 0 THEN 'yy' ELSE lang END]) AS c
           FROM documents WHERE doc_id < 400 AND lang IS NOT NULL),
         nuc AS (
           SELECT doc_id, c, count(*) AS n FROM lab GROUP BY 1, 2),
         top AS (
           SELECT doc_id, c AS consensus, n AS votes_top,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY n DESC, c DESC) AS rk
           FROM nuc),
         tot AS (
           SELECT doc_id, sum(n)::BIGINT AS n_votes
           FROM nuc GROUP BY 1)
         SELECT t.doc_id, consensus, votes_top::BIGINT AS votes_top,
                n_votes,
                round(votes_top / n_votes::DOUBLE, 4) AS support
         FROM top t JOIN tot USING (doc_id)
         WHERE rk = 1 ORDER BY t.doc_id""",
    // rater outliers: agreement with the row_number consensus,
    // population z over raters, one-sided flag on the rounded z
    "q268_rater_outliers" ->
      """WITH src AS (
           SELECT doc_id, lang,
                  CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END
                    AS r4,
                  CASE WHEN doc_id % 2 = 0 THEN 'qq' ELSE lang END
                    AS r5
           FROM documents WHERE doc_id < 400 AND lang IS NOT NULL),
         lab AS (
           SELECT doc_id, u.rater, u.label FROM src,
           unnest([
             {'rater': 'r1', 'label': lang},
             {'rater': 'r2', 'label': lang},
             {'rater': 'r3', 'label': lang},
             {'rater': 'r4', 'label': r4},
             {'rater': 'r5', 'label': r5}]) AS t(u)),
         nuc AS (
           SELECT doc_id, label AS c, count(*) AS n
           FROM lab GROUP BY 1, 2),
         top AS (
           SELECT doc_id, c AS consensus,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY n DESC, c DESC) AS rk
           FROM nuc),
         cons AS (SELECT doc_id, consensus FROM top WHERE rk = 1),
         per AS (
           SELECT rater, count(*)::BIGINT AS n_items,
                  avg(CASE WHEN label = consensus THEN 1.0
                    ELSE 0.0 END) AS rate
           FROM lab JOIN cons USING (doc_id)
           GROUP BY 1),
         st AS (
           SELECT avg(rate) AS mu, stddev_pop(rate) AS sd FROM per)
         SELECT rater, n_items, round(rate, 4) AS agree_rate,
                CASE WHEN sd > 0
                  THEN round((rate - mu) / sd, 4) END AS z,
                coalesce(CASE WHEN sd > 0
                  THEN round((rate - mu) / sd, 4) < -1.5 END, false)
                  AS outlier
         FROM per, st ORDER BY rater""",
    // BLEU-4: clipped multi-n precisions, brevity penalty, geometric
    // mean via nested sqrt from the rounded components
    "q269_bleu" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(
                    regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+'), t -> t <> '') AS tk
           FROM documents WHERE doc_id < 300 AND text IS NOT NULL),
         prs AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 17 = 0 THEN []
                       ELSE tk[1:30] END AS ct,
                  tk[11:40] AS rt
           FROM toks),
         cg AS (
           SELECT doc_id, n.n AS n,
                  array_to_string(ct[i.i:i.i + n.n - 1], ' ') AS g,
                  count(*) AS nc
           FROM prs,
                unnest(generate_series(1, 4)) AS n(n),
                unnest(generate_series(1,
                  CASE WHEN len(ct) >= n.n
                    THEN len(ct) - n.n + 1 ELSE 0 END)) AS i(i)
           GROUP BY 1, 2, 3),
         rg AS (
           SELECT doc_id, n.n AS n,
                  array_to_string(rt[i.i:i.i + n.n - 1], ' ') AS g,
                  count(*) AS nr
           FROM prs,
                unnest(generate_series(1, 4)) AS n(n),
                unnest(generate_series(1,
                  CASE WHEN len(rt) >= n.n
                    THEN len(rt) - n.n + 1 ELSE 0 END)) AS i(i)
           GROUP BY 1, 2, 3),
         j AS (
           SELECT coalesce(cg.doc_id, rg.doc_id) AS doc_id,
                  coalesce(cg.n, rg.n) AS n,
                  coalesce(nc, 0) AS nc, coalesce(nr, 0) AS nr
           FROM cg FULL OUTER JOIN rg
             ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.g = rg.g),
         pern AS (
           SELECT doc_id, n,
                  sum(least(nc, nr))::BIGINT AS ov,
                  sum(nc)::BIGINT AS cn, sum(nr)::BIGINT AS rn
           FROM j GROUP BY 1, 2),
         wide AS (
           SELECT doc_id,
                  coalesce(max(CASE WHEN n = 1 THEN cn END),
                    0)::BIGINT AS n_cand,
                  coalesce(max(CASE WHEN n = 1 THEN rn END),
                    0)::BIGINT AS n_ref,
                  round(coalesce(max(CASE WHEN n = 1 THEN
                    CASE WHEN cn > 0 THEN ov / cn::DOUBLE ELSE 0 END
                    END), 0), 4) AS p1,
                  round(coalesce(max(CASE WHEN n = 2 THEN
                    CASE WHEN cn > 0 THEN ov / cn::DOUBLE ELSE 0 END
                    END), 0), 4) AS p2,
                  round(coalesce(max(CASE WHEN n = 3 THEN
                    CASE WHEN cn > 0 THEN ov / cn::DOUBLE ELSE 0 END
                    END), 0), 4) AS p3,
                  round(coalesce(max(CASE WHEN n = 4 THEN
                    CASE WHEN cn > 0 THEN ov / cn::DOUBLE ELSE 0 END
                    END), 0), 4) AS p4
           FROM pern GROUP BY 1),
         w2 AS (
           SELECT *, round(CASE WHEN n_cand = 0 THEN 0
             WHEN n_cand >= n_ref THEN 1
             ELSE exp(1 - n_ref / n_cand::DOUBLE) END, 4) AS bp
           FROM wide),
         f AS (
           SELECT doc_id, n_cand, n_ref, p1, p2, p3, p4, bp,
                  round(bp * sqrt(sqrt(p1 * p2 * p3 * p4)), 4) AS bleu
           FROM w2)
         SELECT p.doc_id,
                coalesce(n_cand, 0)::BIGINT AS n_cand,
                coalesce(n_ref, 0)::BIGINT AS n_ref,
                coalesce(p1, 0.0) AS p1, coalesce(p2, 0.0) AS p2,
                coalesce(p3, 0.0) AS p3, coalesce(p4, 0.0) AS p4,
                coalesce(bp, 0.0) AS bp, coalesce(bleu, 0.0) AS bleu
         FROM prs p LEFT JOIN f USING (doc_id)
         ORDER BY p.doc_id""",
    // chrF2: character n-grams over whitespace-stripped text,
    // macro-averaged P/R, recall-weighted F from the rounded pair
    "q270_chrf" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(
                    regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+'), t -> t <> '') AS tk
           FROM documents WHERE doc_id < 300 AND text IS NOT NULL),
         prs AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 17 = 0 THEN ''
                       ELSE array_to_string(tk[1:30], '') END AS cs,
                  array_to_string(tk[11:40], '') AS rs
           FROM toks),
         cg AS (
           SELECT doc_id, n.n AS n, substring(cs, i.i, n.n) AS g,
                  count(*) AS nc
           FROM prs,
                unnest(generate_series(1, 6)) AS n(n),
                unnest(generate_series(1,
                  CASE WHEN length(cs) >= n.n
                    THEN length(cs) - n.n + 1 ELSE 0 END)) AS i(i)
           GROUP BY 1, 2, 3),
         rg AS (
           SELECT doc_id, n.n AS n, substring(rs, i.i, n.n) AS g,
                  count(*) AS nr
           FROM prs,
                unnest(generate_series(1, 6)) AS n(n),
                unnest(generate_series(1,
                  CASE WHEN length(rs) >= n.n
                    THEN length(rs) - n.n + 1 ELSE 0 END)) AS i(i)
           GROUP BY 1, 2, 3),
         j AS (
           SELECT coalesce(cg.doc_id, rg.doc_id) AS doc_id,
                  coalesce(cg.n, rg.n) AS n,
                  coalesce(nc, 0) AS nc, coalesce(nr, 0) AS nr
           FROM cg FULL OUTER JOIN rg
             ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.g = rg.g),
         pern AS (
           SELECT doc_id, n,
                  sum(least(nc, nr))::BIGINT AS ov,
                  sum(nc)::BIGINT AS cn, sum(nr)::BIGINT AS rn
           FROM j GROUP BY 1, 2),
         wide AS (
           SELECT doc_id,
                  round(sum(CASE WHEN cn > 0
                    THEN ov / cn::DOUBLE ELSE 0 END) / 6, 4) AS chr_p,
                  round(sum(CASE WHEN rn > 0
                    THEN ov / rn::DOUBLE ELSE 0 END) / 6, 4) AS chr_r
           FROM pern GROUP BY 1),
         f AS (
           SELECT doc_id, chr_p, chr_r,
                  round(CASE WHEN 4 * chr_p + chr_r > 0
                    THEN 5 * chr_p * chr_r / (4 * chr_p + chr_r)
                    ELSE 0 END, 4) AS chrf2
           FROM wide)
         SELECT p.doc_id, coalesce(chr_p, 0.0) AS chr_p,
                coalesce(chr_r, 0.0) AS chr_r,
                coalesce(chrf2, 0.0) AS chrf2
         FROM prs p LEFT JOIN f USING (doc_id)
         ORDER BY p.doc_id""",
    // burstiness: zeros-in-closed-form dispersion from the term-count
    // table; HUGEINT sums cast back
    "q248_burstiness" ->
      """WITH n AS (SELECT count(*)::DOUBLE AS c FROM documents
                    WHERE text IS NOT NULL),
         tok AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+')) AS term
           FROM documents WHERE text IS NOT NULL),
         tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM tok WHERE term <> '' GROUP BY 1, 2),
         ag AS (
           SELECT term, count(*) AS df, sum(tf)::BIGINT AS total_tf,
                  sum(tf * tf)::BIGINT AS s2
           FROM tf GROUP BY term),
         f AS (
           SELECT term, df, total_tf,
                  round(total_tf / n.c, 6) AS mean_tf,
                  round((s2 / n.c - (total_tf / n.c) ^ 2) /
                    (total_tf / n.c), 4) AS vmr
           FROM ag, n WHERE df >= 5),
         r AS (
           SELECT *, row_number() OVER (ORDER BY vmr DESC, term) AS rk
           FROM f QUALIFY rk <= 50)
         SELECT term, df, total_tf, mean_tf, vmr
         FROM r ORDER BY vmr DESC, term""",
    // windowed PSI: hourly bins by the fixed reference edges, the
    // q237 clamped-log arithmetic per window
    "q242_psi_windows" ->
      """WITH ev AS (
           SELECT date_trunc('hour', ts) AS w, value,
                  (CASE WHEN value > 5.0 THEN 1 ELSE 0 END +
                   CASE WHEN value > 20.0 THEN 1 ELSE 0 END +
                   CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS bin
           FROM events WHERE value IS NOT NULL),
         wc AS (
           SELECT w, count(*) AS n,
                  sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS n0,
                  sum(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS n1,
                  sum(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS n2,
                  sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS n3
           FROM ev GROUP BY w)
         SELECT w AS window_start, n::BIGINT AS n,
                round(
                  (n0 / n::DOUBLE - 0.4) *
                    ln(greatest(n0 / n::DOUBLE, 1e-6) / 0.4) +
                  (n1 / n::DOUBLE - 0.3) *
                    ln(greatest(n1 / n::DOUBLE, 1e-6) / 0.3) +
                  (n2 / n::DOUBLE - 0.2) *
                    ln(greatest(n2 / n::DOUBLE, 1e-6) / 0.2) +
                  (n3 / n::DOUBLE - 0.1) *
                    ln(greatest(n3 / n::DOUBLE, 1e-6) / 0.1), 4) AS psi
         FROM wc ORDER BY window_start""",
    // versioned root: both snapshots rebuilt from the base table, so
    // the compare proves the pointer resolved to v2 and the diff
    // classified every key
    "q233_versioned_root" ->
      """WITH v1 AS (
           SELECT doc_id, source, n_chars FROM documents
           WHERE doc_id % 7 <> 0),
         v2 AS (
           SELECT doc_id, source,
                  n_chars + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
                    AS n_chars
           FROM documents WHERE doc_id % 11 <> 0),
         st AS (
           SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                  CASE WHEN a.doc_id IS NULL THEN 'added'
                       WHEN b.doc_id IS NULL THEN 'removed'
                       WHEN a.source = b.source AND a.n_chars = b.n_chars
                         THEN 'unchanged'
                       ELSE 'changed' END AS status
           FROM v1 a FULL JOIN v2 b ON b.doc_id = a.doc_id),
         cs AS (
           SELECT count(*)::BIGINT AS current_rows,
                  sum(n_chars)::BIGINT AS current_n_chars,
                  2 AS current_version
           FROM v2)
         SELECT st.status, count(*)::BIGINT AS n_keys,
                cs.current_version, cs.current_rows, cs.current_n_chars
         FROM st, cs
         GROUP BY 1, 3, 4, 5
         ORDER BY st.status""",
    // PCA contract: coordinate variance, norms, and cross-dots all
    // recomputed in SQL from the dumped model + raw embeddings
    "q230_pca_contract" ->
      """WITH comp AS (
           SELECT component, idx, w
           FROM read_parquet('/root/repo/spark-warehouse/q230_components/*.parquet')),
         mn AS (
           SELECT idx, m
           FROM read_parquet('/root/repo/spark-warehouse/q230_mean/*.parquet')),
         ex AS (
           SELECT component, explained
           FROM read_parquet('/root/repo/spark-warehouse/q230_explained/*.parquet')),
         ev AS (
           SELECT vec_id, i - 1 AS idx, embedding[i]::DOUBLE AS x
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL) e,
                unnest(generate_series(1, len(embedding))) AS g(i)),
         coords AS (
           SELECT c.component, ev.vec_id,
                  sum((ev.x - mn.m) * c.w) AS coord
           FROM ev
           JOIN mn ON mn.idx = ev.idx
           JOIN comp c ON c.idx = ev.idx
           GROUP BY 1, 2),
         cv AS (
           SELECT component,
                  avg(coord * coord) - avg(coord) * avg(coord)
                    AS coord_var
           FROM coords GROUP BY component),
         norms AS (
           SELECT component, sqrt(sum(w * w)) AS norm
           FROM comp GROUP BY component),
         cross_d AS (
           SELECT a.component,
                  max(abs(d.dot)) AS max_cross
           FROM (SELECT DISTINCT component FROM comp) a
           JOIN (SELECT x.component AS ca, y.component AS cb,
                        sum(x.w * y.w) AS dot
                 FROM comp x JOIN comp y
                   ON x.idx = y.idx AND x.component <> y.component
                 GROUP BY 1, 2) d ON d.ca = a.component
           GROUP BY a.component)
         SELECT ex.component,
                round(ex.explained, 4) AS explained,
                round(cv.coord_var, 4) AS coord_var,
                (abs(cv.coord_var - ex.explained) <=
                   greatest(1e-4, ex.explained * 0.01)) AS var_ok,
                (abs(norms.norm - 1.0) < 1e-6) AS norm_ok,
                (cross_d.max_cross < 1e-6) AS orth_ok
         FROM ex
         JOIN cv USING (component)
         JOIN norms USING (component)
         JOIN cross_d USING (component)
         ORDER BY component""",
    "q219_semantic_decontam" ->
      """SELECT a.vec_id AS corpus_id, p.bench_id,
                round(list_cosine_similarity(ce.embedding::DOUBLE[],
                  qe.embedding::DOUBLE[]), 4) AS sim
         FROM read_parquet('/root/repo/spark-warehouse/q219_assigned/*.parquet') a
         JOIN read_parquet('/root/repo/spark-warehouse/q219_probes/*.parquet') p USING (list_id)
         JOIN embeddings ce ON ce.vec_id = a.vec_id
         JOIN embeddings qe ON qe.vec_id = p.bench_id
         WHERE list_cosine_similarity(ce.embedding::DOUBLE[],
                 qe.embedding::DOUBLE[]) >= 0.97
         ORDER BY corpus_id, bench_id"""
  )
}
