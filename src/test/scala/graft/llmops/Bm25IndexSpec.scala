package graft.llmops

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

class Bm25IndexSpec extends SparkTestBase {
  import spark.implicits._

  lazy val docs = Tables.documents(spark, sf0001)
    .select($"doc_id", $"text").cache()

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-bm25idx")
    d.toFile.deleteOnExit()
    d.resolve("idx").toString
  }

  /** Every column of a ranked surface, in a stable row order. */
  private def ranked(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Int, Long, Long, Double)] =
    df.collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .sortBy(r => (r._1, r._2))

  private val queries = Seq(
    (0L, "vector window merge"),
    (1L, "stream window"),
    (2L, "zzzz nothing matches here"))
    .toDF("query_id", "text")

  test("index-served scores match the direct batch (1e-12 relative — " +
      "float-summation order is the only divergence)") {
    val path = tmp()
    Bm25Index.write(docs, path, nBuckets = 16)
    val direct = Bm25.scoresBatch(docs, queries)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val served = Bm25Index.scores(spark, path, queries)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(served.keySet == direct.keySet)
    served.foreach { case (key, (nth, s)) =>
      val (dn, ds) = direct(key)
      assert(dn == nth, s"n_terms_hit at $key")
      assert(math.abs(s - ds) <= 1e-12 * math.max(1.0, math.abs(ds)),
        s"score at $key: served=$s direct=$ds")
    }
    assert(served.nonEmpty)

    // the 4-decimal ROUNDED ranking surface is identical
    val directTop = Bm25.topKBatch(docs, queries, k = 7).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(4)))
      .toSet
    val servedTop = Bm25Index.topK(spark, path, queries, k = 7).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(4)))
      .toSet
    assert(servedTop == directTop)
  }

  test("append: the grown index serves the union corpus exactly " +
      "(df/avgdl reflect both batches)") {
    val path = tmp()
    val half1 = docs.filter($"doc_id" % 2 === 0)
    val half2 = docs.filter($"doc_id" % 2 === 1)
    Bm25Index.write(half1, path, nBuckets = 16)
    Bm25Index.append(half2, path)
    val direct = Bm25.scoresBatch(docs, queries)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val served = Bm25Index.scores(spark, path, queries)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(served.keySet == direct.keySet)
    served.foreach { case (key, (nth, s)) =>
      val (dn, ds) = direct(key)
      assert(dn == nth && math.abs(s - ds) <=
        1e-12 * math.max(1.0, math.abs(ds)), s"at $key")
    }
  }

  test("serving reads only the probed term buckets (partition pruning)") {
    val path = tmp()
    Bm25Index.write(docs, path, nBuckets = 64)
    // DataFrame.inputFiles ignores partition filters — read the scan
    // node's numFiles metric after execution (the AnnIndexSpec probe)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val inner = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      inner.collectFirst { case s: FileSourceScanExec => s }
        .get.metrics("numFiles").value
    }
    val one = Seq((0L, "vector")).toDF("query_id", "text")
    val buckets = one
      .select(explode(TextFuncs.tokens($"text")).as("term"))
      .select(pmod(xxhash64($"term"), lit(64L)))
      .as[Long].collect().toSeq
    val pruned = spark.read.parquet(s"$path/postings")
      .filter(col("term_bucket").isin(buckets: _*))
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters"))
    val prunedN = scanFiles(pruned)
    val allN = scanFiles(
      spark.read.parquet(s"$path/postings").filter(col("term_bucket") >= 0))
    assert(prunedN < allN, s"pruned=$prunedN all=$allN")
    assert(prunedN >= 1)
    // and the serve path itself returns hits for that query
    assert(Bm25Index.scores(spark, path, one).count() > 0)
  }

  test("ingestStream: micro-batches grow the index, replays are " +
      "no-ops, served scores equal the batch build of the union") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp()
    val half1 = docs.filter($"doc_id" < 200)
    Bm25Index.write(half1, path, nBuckets = 16)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = Bm25Index.ingestStream(
        mem.toDF().toDF("doc_id", "text"), path)
      .outputMode("update").start()
    val batch2 = docs.filter($"doc_id" >= 200 && $"doc_id" < 350)
      .as[(Long, String)].collect()
    val batch3 = docs.filter($"doc_id" >= 350)
      .as[(Long, String)].collect()
    mem.addData(batch2.toIndexedSeq)
    q.processAllAvailable()
    mem.addData(batch3.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    // ledger recorded each applied batch once; stats rows = 1 + 2
    assert(spark.read.parquet(s"$path/_batches").count() == 2)
    assert(spark.read.parquet(s"$path/stats").count() == 3)
    val served = Bm25Index.scores(spark, path, queries)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val wholePath = tmp()
    Bm25Index.write(docs, wholePath, nBuckets = 16)
    val whole = Bm25Index.scores(spark, wholePath, queries)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(served.keySet == whole.keySet)
    served.foreach { case (key, s) =>
      assert(math.abs(s - whole(key)) <=
        1e-12 * math.max(1.0, math.abs(whole(key))), s"at $key")
    }
  }

  test("crash-window replay is harmless: a re-appended stream batch " +
      "(same tag) never double-counts postings or stats") {
    val path = tmp()
    val half1 = docs.filter($"doc_id" < 250)
    val half2 = docs.filter($"doc_id" >= 250)
    Bm25Index.write(half1, path, nBuckets = 16)
    // simulate foreachBatch redelivery after a crash between the
    // postings append and the ledger row: the SAME batch appends twice
    // with its deterministic stream tag
    Bm25Index.append(half2, path, batchTag = "stream-7")
    Bm25Index.append(half2, path, batchTag = "stream-7")
    assert(spark.read.parquet(s"$path/stats").count() == 3)
    val served = Bm25Index.scores(spark, path, queries)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val clean = tmp()
    Bm25Index.write(docs, clean, nBuckets = 16)
    val whole = Bm25Index.scores(spark, clean, queries)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(served.keySet == whole.keySet)
    served.foreach { case (key, (nth, s)) =>
      assert(whole(key)._1 == nth && math.abs(s - whole(key)._2) <=
        1e-12 * math.max(1.0, math.abs(whole(key)._2)), s"at $key")
    }
    // the ranked surface of the replayed index, row for row: the
    // replayed postings dedupe before df and the tail sees them once
    val servedTop = ranked(Bm25Index.topK(spark, path, queries, k = 7))
    assert(servedTop.nonEmpty)
    assert(servedTop == ranked(Bm25.topKBatch(docs, queries, k = 7)))
    // two DELIBERATE manual appends of different batches both count
    // (fresh tags) — the dedupe keys on the tag, not the content
    val p2 = tmp()
    Bm25Index.write(half1, p2, nBuckets = 16)
    Bm25Index.append(half2, p2)
    val n = spark.read.parquet(s"$p2/stats")
      .agg(org.apache.spark.sql.functions.sum($"n_docs")).head().getLong(0)
    assert(n == docs.count())
  }

  test("delete: tombstoned docs vanish and served scores equal the " +
      "direct batch over the surviving corpus") {
    val path = tmp()
    Bm25Index.write(docs, path, nBuckets = 16)
    Bm25Index.delete(docs.filter($"doc_id" % 5 === 0).select($"doc_id"),
      path)
    val survivors = docs.filter($"doc_id" % 5 =!= 0)
    val direct = Bm25.scoresBatch(survivors, queries).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val served = Bm25Index.scores(spark, path, queries).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(served.nonEmpty)
    assert(served.keys.forall(_._2 % 5 != 0), "a tombstoned doc served")
    assert(served.keySet == direct.keySet)
    served.foreach { case (key, (nth, s)) =>
      val (dn, ds) = direct(key)
      assert(dn == nth && math.abs(s - ds) <=
        1e-12 * math.max(1.0, math.abs(ds)), s"at $key")
    }
    // the 4-decimal ROUNDED ranking surface is identical too, row for
    // row with n_terms_hit, served with the tombstones still in place
    val servedTop = ranked(Bm25Index.topK(spark, path, queries, k = 7))
    assert(servedTop.nonEmpty)
    assert(servedTop == ranked(Bm25.topKBatch(survivors, queries, k = 7)))
  }

  test("delete is idempotent, unknown ids are no-ops, and compact " +
      "physically purges with an identical ranked surface") {
    val path = tmp()
    Bm25Index.write(docs, path, nBuckets = 16)
    val doomed = docs.filter($"doc_id" % 5 === 0).select($"doc_id")
    Bm25Index.delete(doomed, path)
    Bm25Index.delete(doomed, path) // re-delete: harmless
    Bm25Index.delete(Seq(99999999L).toDF("doc_id"), path) // unknown id
    val before = Bm25Index.topK(spark, path, queries, k = 7).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(4)))
      .toSet
    Bm25Index.compact(spark, path)
    assert(!new java.io.File(s"$path/tombstones").exists(),
      "compact must clear the tombstone store")
    assert(spark.read.parquet(s"$path/postings")
      .filter($"id" % 5 === 0).count() == 0, "purged rows still on disk")
    assert(spark.read.parquet(s"$path/stats").count() == 1,
      "stats must collapse to one base row")
    val n = spark.read.parquet(s"$path/stats").select($"n_docs")
      .head().getLong(0)
    assert(n == docs.filter($"doc_id" % 5 =!= 0).count(),
      "compacted n must count exactly the survivors")
    val after = Bm25Index.topK(spark, path, queries, k = 7).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(4)))
      .toSet
    assert(after == before)
    // compact with no tombstones: a clean no-op
    Bm25Index.compact(spark, path)
    assert(spark.read.parquet(s"$path/stats").count() == 1)
  }

  test("write on a reused path clears stale tombstones; pre-doclens " +
      "layouts reject delete loudly") {
    val path = tmp()
    Bm25Index.write(docs, path, nBuckets = 16)
    Bm25Index.delete(docs.filter($"doc_id" % 5 === 0).select($"doc_id"),
      path)
    Bm25Index.write(docs, path, nBuckets = 16) // the fresh-index contract
    val served = Bm25Index.scores(spark, path, queries).collect()
    assert(served.exists(_.getLong(1) % 5 == 0),
      "stale tombstones leaked into the fresh index")
    // an index whose layout predates the doclens store cannot adjust
    // stats exactly — delete must fail loudly, not serve wrong avgdl
    val old = tmp()
    Bm25Index.write(docs, old, nBuckets = 16)
    val lens = new org.apache.hadoop.fs.Path(s"$old/doclens")
    lens.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(lens, true)
    intercept[IllegalArgumentException] {
      Bm25Index.delete(Seq(1L).toDF("doc_id"), old)
    }
  }

  test("deleting an empty-text doc adjusts n exactly: it has no " +
      "postings, only its doclens row carries it") {
    val path = tmp()
    val mini = Seq((1L, "alpha beta"), (2L, ""), (3L, "alpha gamma"))
      .toDF("doc_id", "text")
    Bm25Index.write(mini, path, nBuckets = 4)
    Bm25Index.delete(Seq(2L).toDF("doc_id"), path)
    val q1 = Seq((0L, "alpha")).toDF("query_id", "text")
    val served = Bm25Index.scores(spark, path, q1).collect()
      .map(r => (r.getLong(1), r.getDouble(3))).toMap
    val direct = Bm25.scoresBatch(
        Seq((1L, "alpha beta"), (3L, "alpha gamma")).toDF("doc_id", "text"),
        q1).collect()
      .map(r => (r.getLong(1), r.getDouble(3))).toMap
    assert(served.keySet == Set(1L, 3L))
    served.foreach { case (id, s) =>
      assert(math.abs(s - direct(id)) <=
        1e-12 * math.max(1.0, math.abs(direct(id))), s"doc $id")
    }
  }

  test("fresh session serve: everything needed is on disk; string ids " +
      "rejected loudly") {
    val path = tmp()
    Bm25Index.write(docs, path)
    // a brand-new read of the files alone serves (no state carried)
    assert(Bm25Index.topK(spark, path, queries, k = 3).count() > 0)
    intercept[IllegalArgumentException] {
      Bm25Index.write(docs.select(concat(lit("u"), $"doc_id").as("doc_id"),
        $"text"), tmp())
    }
    intercept[IllegalArgumentException] {
      Bm25Index.scores(spark, path,
        Seq(("a", "vector")).toDF("query_id", "text"))
    }
  }

  test("one topK call runs a bounded number of Spark jobs: params and " +
      "stats are driver reads, the query terms one collect") {
    val path = tmp()
    Bm25Index.write(docs, path, nBuckets = 16)
    // the first serve after a write reads params and stats; a repeat
    // serve of the unchanged index reads neither
    val first = jobsIn("bm25idx-first") {
      Bm25Index.topK(spark, path, queries, k = 7).collect() }
    val repeat = jobsIn("bm25idx-repeat") {
      Bm25Index.topK(spark, path, queries, k = 7).collect() }
    // measured on local[4]: 8 and 6 jobs (14 and 12 when the df
    // branch and the tail's join-back read the postings three times;
    // 25 and 25 when params, stats and the postings paid a
    // schema-inference job each, params a head job, and the stats a
    // dedupe/aggregate/broadcast chain)
    assert(first > 0 && first <= 8, s"first serve ran $first jobs")
    assert(repeat <= first - 2,
      s"repeat serve ran $repeat jobs, first $first: params and stats " +
        "were read again")
  }

  test("a serve scans the postings once and joins nothing back onto " +
      "its scored rows") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val path = tmp()
    Bm25Index.write(docs, path, nBuckets = 16)
    val top = Bm25Index.topK(spark, path, queries, k = 7)
    top.collect()
    // the final adaptive plan, query stages included
    object Plan extends AdaptiveSparkPlanHelper
    val plan = top.queryExecution.executedPlan
    val scans = Plan.collect(plan) { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.getName).mkString(",") }
    assert(scans == Seq("postings"), plan.toString)
    // the one join is the fan-out onto the query-term local relation:
    // no (query, id) frame joins back onto the scored rows
    val joins = Plan.collect(plan) { case j: BaseJoinExec => j }
    assert(joins.size == 1, plan.toString)
    assert(Plan.collect(joins.head.right) {
      case l: LocalTableScanExec => l }.size == 1, plan.toString)
  }

  test("a re-write at the same path with another bucket count serves " +
      "from the new buckets") {
    val path = tmp()
    Bm25Index.write(docs, path, nBuckets = 16)
    assert(Bm25Index.topK(spark, path, queries, k = 7).count() > 0)
    Bm25Index.write(docs, path, nBuckets = 5)
    val served = Bm25Index.topK(spark, path, queries, k = 7).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(4)))
      .toSet
    val direct = Bm25.topKBatch(docs, queries, k = 7).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(4)))
      .toSet
    assert(served.nonEmpty && served == direct)
  }

  test("the query-term collect is bounded: a batch above the bound " +
      "fails at once and names it") {
    val path = tmp()
    Bm25Index.write(docs.limit(20), path, nBuckets = 4)
    val perQuery = 1000
    val n = Bm25Index.MaxQueryTermRows / perQuery + 1
    val big = spark.range(n).select($"id".as("query_id"),
      array_join(array_repeat(lit("w"), perQuery), " ").as("text"))
    val err = intercept[IllegalArgumentException] {
      Bm25Index.scores(spark, path, big)
    }
    assert(err.getMessage.contains(s"${Bm25Index.MaxQueryTermRows}"))
    // at the bound itself the batch serves
    val atBound = spark.range(n - 1).select($"id".as("query_id"),
      array_join(array_repeat(lit("w"), perQuery), " ").as("text"))
    Bm25Index.scores(spark, path, atBound).count()
  }

  test("contribs: literal (n, avgdl) give bit-identical contributions " +
      "to the stats-frame form") {
    val terms = Seq("vector", "window", "merge", "stream").toDF("term")
    val tf = Bm25.corpusTf(docs, terms, "doc_id", "text")
    val stats = Bm25.corpusStats(docs, "text")
    val st = stats.head()
    def got(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"term", $"contrib").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val framed = got(Bm25.contribs(tf, stats, 1.2, 0.75))
    val literal = got(Bm25.contribs(tf, st.getDouble(0), st.getDouble(1),
      1.2, 0.75))
    assert(framed.nonEmpty && literal == framed)
  }
}
