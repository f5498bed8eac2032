package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.llmops.{AnnIndex, Bm25, Bm25Index, VectorFuncs}

/** A BM25 index and an ANN index over one generated corpus, served and
  * updated by one closed-loop client.
  *
  * The corpus stands for the reports of 30 companies, 50 documents
  * each. One update replaces one company's documents with new versions
  * under the same ids, as a re-crawl of that company would, along the
  * program's documented re-crawl update path (`Retrieval.upsertDocs`):
  * delete, then compact, then append. There is one update per served
  * batch, as in the index lifecycle bodies of `graft.Bench` (q110,
  * q136, q143: one write call, then one served batch). A cycle is 4
  * ops: delete, compact, append, serve (8 BM25 queries of Zipf-popular
  * terms plus 8 ANN queries), each write hitting both indexes.
  */
final class IndexServe(spark: SparkSession, trace: Trace, root: Path, seed: Long)
    extends Workload {
  import spark.implicits._

  private val nCompanies = 30
  private val docsPerCompany = 50
  private val nDocs = nCompanies * docsPerCompany
  private val vocabSize = 5000
  private val dim = 32
  private val batch = 8
  private val k = 10
  private val probeQueries = 512
  /** Postings buckets: 16 for a corpus of a few thousand docs. */
  private val nBuckets = 16
  /** The cluster geometry and the built corpus's vectors are part of
    * the workload, like the corpus size, so the trained ANN models and
    * the recall they reach do not change with the seed. The seed draws
    * the texts, the query stream and the updates' vectors.
    */
  private val geometrySeed = 20240917L

  private var vocab: Gen.Zipf = _
  private var clusters: Gen.Clusters = _
  private val live = mutable.TreeMap.empty[Long, (String, Array[Float])]
  /** The ids of the update in progress, between its delete and append. */
  private var updating = Seq.empty[Long]
  private val bm25 = root.resolve("bm25").toString
  private val ann = root.resolve("ann").toString

  val mainKind = "serve"
  override val cycle = 4
  /** Two cycles, so `op_p50_s` is the mean of two serves, not one. */
  val minCycles = 2
  /** Warm-up is the first serve and then one whole update cycle
    * (delete, compact, append, serve): each op kind's first, coldest
    * run, and the serve right after the first update, which swung most
    * from run to run. The measured cycles then run delete, compact,
    * append, serve.
    */
  val warmOps = 1 + cycle
  def writeS(o: OpRec): Option[Double] =
    if (o.kind == "append" || o.kind == "delete") Some(o.wallS) else None

  private def doc(r: Random): (String, Array[Float]) =
    (vocab.text(r, 30, 80), clusters.vector(r))

  private def docsDf(rows: Seq[(Long, (String, Array[Float]))]): DataFrame =
    rows.map { case (id, (t, _)) => (id, t) }.toDF("doc_id", "text")

  private def vecsDf(rows: Seq[(Long, (String, Array[Float]))]): DataFrame =
    rows.map { case (id, (_, v)) => (id, v) }.toDF("vec_id", "embedding")

  def setup(): Unit = {
    vocab = new Gen.Zipf(vocabSize, 1.1, new Random(seed))
    clusters = new Gen.Clusters(dim, 16, 16, 0.6, 0.15, new Random(geometrySeed))
    val r = new Random(seed + 2)
    val rv = new Random(geometrySeed + 1)
    (0L until nDocs.toLong).foreach(id => live(id) = (vocab.text(r, 30, 80), clusters.vector(rv)))
    val rows = live.toSeq
    trace.span("bm25_write", "llmops")(Bm25Index.write(docsDf(rows), bm25, nBuckets))
    trace.span("ann_write", "llmops")(AnnIndex.write(vecsDf(rows), ann))
  }

  def inputs: Map[String, Any] = Map(
    "docs" -> nDocs, "companies" -> nCompanies, "docs_per_company" -> docsPerCompany,
    "vocab" -> vocabSize, "zipf_s" -> 1.1, "dim" -> dim, "bm25_buckets" -> nBuckets,
    "clusters" -> "16 x 16 sub-clusters", "batch_queries" -> batch, "k" -> k,
    "update_docs" -> docsPerCompany, "op_cycle" -> "serve, delete, compact, append",
    "recall_probe_queries" -> probeQueries)

  private def kindOf(i: Int): String = Seq("serve", "delete", "compact", "append")(i % cycle)

  /** Per op: index bytes / live bytes. */
  private val diskRatios = mutable.Map.empty[Int, Double]

  private def liveBytes: Long =
    live.valuesIterator.map { case (t, _) => t.getBytes(UTF_8).length + 4L * dim }.sum

  private def afterOp(i: Int)(errs: => Seq[String]): () => Seq[String] = () => {
    val out = errs
    val bytes = Workload.du(root.resolve("bm25"))._2 + Workload.du(root.resolve("ann"))._2
    diskRatios(i) = bytes.toDouble / liveBytes
    out
  }

  def op(i: Int): Done = {
    val r = new Random(seed * 1000003L + i)
    kindOf(i) match {
      case "serve" => serve(i, r)
      case "delete" =>
        val company = r.nextInt(nCompanies)
        updating = (0 until docsPerCompany).map(d => company.toLong * docsPerCompany + d)
        trace.span("bm25_delete", "llmops")(Bm25Index.delete(updating.toDF("doc_id"), bm25))
        trace.span("ann_delete", "llmops")(AnnIndex.delete(updating.toDF("vec_id"), ann))
        live --= updating
        Done("delete", 0, afterOp(i)(Nil))
      case "compact" =>
        trace.span("compact", "llmops") {
          Bm25Index.compact(spark, bm25)
          AnnIndex.compact(spark, ann)
        }
        Done("compact", 0, afterOp(i)(Nil))
      case _ =>
        val rows = updating.map(id => (id, doc(r)))
        trace.span("bm25_append", "llmops")(Bm25Index.append(docsDf(rows), bm25))
        trace.span("ann_append", "llmops")(AnnIndex.append(spark, vecsDf(rows), ann))
        live ++= rows
        updating = Nil
        Done("append", 0, afterOp(i)(Nil))
    }
  }

  private def serve(i: Int, r: Random): Done = {
    val terms = (0 until batch).map(q =>
      (i.toLong * batch + q, Seq.fill(2 + r.nextInt(2))(vocab.word(r)).mkString(" ")))
    val vecs = (0 until batch).map(q =>
      (1000000000L + i.toLong * batch + q, clusters.vector(r)))
    val tq = terms.toDF("query_id", "text")
    val vq = vecs.toDF("query_id", "query_vec")
    val bm25Rows = trace.span("bm25_serve", "llmops")(Bm25Index.topK(spark, bm25, tq, k).collect())
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getDouble(4))).toSet
    val annRows = trace.span("ann_serve", "llmops")(AnnIndex.topK(spark, ann, vq, k).collect())
      .map(x => (x.getAs[Long]("query_id"), x.getAs[Long]("vec_id"), x.getAs[Int]("rk")))
    // the first measured serve of every run (a seeded batch) is compared
    // with a fresh BM25 over the live corpus: the same place in every
    // run, so the check's own warming of shared code is the same too
    val checkBm25 = i == warmOps + cycle - 1
    Done("serve", 2 * batch, afterOp(i) {
      val errs = Seq.newBuilder[String]
      val rows = live.toSeq
      if (checkBm25) {
        val want = Bm25.topKBatch(docsDf(rows), tq, k).collect()
          .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getDouble(4))).toSet
        if (want != bm25Rows)
          errs += s"bm25 serve differs from topKBatch over the live corpus: " +
            s"${(bm25Rows -- want).size} extra, ${(want -- bm25Rows).size} missing rows"
      }
      val dead = annRows.filterNot(x => live.contains(x._2))
      if (dead.nonEmpty) errs += s"ann served ${dead.size} ids outside the live corpus"
      val badRank = annRows.groupBy(_._1).exists { case (_, xs) =>
        xs.map(_._3).sorted.toSeq != (1 to xs.size) || xs.size > k }
      if (badRank) errs += "ann ranks are not 1..n per query"
      errs.result()
    })
  }

  /** ANN recall@k of one probe batch of [[probeQueries]] queries
    * against the exact top k over the live vectors, and the median
    * index-to-live bytes ratio over the measured ops.
    */
  def quality(ops: Seq[OpRec]): (Double, Double) = {
    val r = new Random(seed + 3)
    val vq = (0 until probeQueries).map(q => (2000000000L + q, clusters.vector(r)))
      .toDF("query_id", "query_vec")
    val got = AnnIndex.topK(spark, ann, vq, k).collect()
      .map(x => (x.getAs[Long]("query_id"), x.getAs[Long]("vec_id"))).toSet
    val exact = VectorFuncs.bruteForceTopK(vecsDf(live.toSeq), vq, k).collect()
      .map(x => (x.getAs[Long]("query_id"), x.getAs[Long]("vec_id")))
    (exact.count(got).toDouble / exact.length,
      Workload.median(ops.flatMap(o => diskRatios.get(o.i))))
  }

  def layers(ops: Seq[OpRec]): Map[String, Double] = {
    def span(name: String) = Workload.median(
      ops.map(o => trace.seconds(o.i, name)).filter(_ > 0))
    def setupSpan(name: String) = Workload.median(
      trace.all.filter(s => s.op < 0 && s.name == name).map(_.nanos / 1e9))
    val (bm25Files, bm25Bytes) = Workload.du(root.resolve("bm25"))
    val (annFiles, annBytes) = Workload.du(root.resolve("ann"))
    Map(
      "bm25_serve_s" -> span("bm25_serve"), "ann_serve_s" -> span("ann_serve"),
      "bm25_append_s" -> span("bm25_append"), "ann_append_s" -> span("ann_append"),
      "bm25_delete_s" -> span("bm25_delete"), "ann_delete_s" -> span("ann_delete"),
      "compact_s" -> span("compact"),
      "bm25_write_s" -> setupSpan("bm25_write"), "ann_write_s" -> setupSpan("ann_write"),
      "index_files" -> (bm25Files + annFiles).toDouble,
      "index_bytes" -> (bm25Bytes + annBytes).toDouble)
  }
}
