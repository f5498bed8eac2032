package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.io.JsonlDocs
import graft.llmops.Dedup

/** The dedup job a curator runs over a JSONL corpus: exact dedup, then
  * MinHash-LSH and exact-Jaccard near-duplicate pairs over the exact
  * survivors, then the curated corpus (survivors minus the higher id of
  * every pair) written back as JSONL.
  */
final class CorpusCuration(spark: SparkSession, trace: Trace, root: Path, seed: Long)
    extends Workload {
  import spark.implicits._

  private val nDocs = 500
  private val vocabSize = 5000
  private var corpus: Gen.Corpus = _
  private var input: Path = _

  val mainKind = "dedup"
  /** Two jobs: a third one, still falling steeply in latency, only
    * widened the run-to-run spread of `op_p50_s`.
    */
  val minCycles = 2
  val warmOps = 1
  def writeS(o: OpRec): Option[Double] = o.attrs.get("write_s")

  def setup(): Unit = {
    val vocab = new Gen.Zipf(vocabSize, 1.1, new Random(seed))
    corpus = Gen.corpus(nDocs, vocab, seed + 1)
    input = root.resolve("corpus")
    val docs = corpus.docs.map { case (id, text) => (id, "gen", "en", text) }
      .toDF("doc_id", "source", "lang", "text")
    trace.span("jsonl_write", "io")(JsonlDocs.write(docs.repartition(8), input.toString))
  }

  def inputs: Map[String, Any] = Map(
    "docs" -> nDocs, "vocab" -> vocabSize, "zipf_s" -> 1.1,
    "unique_docs" -> corpus.uniqueDocs, "near_pairs" -> corpus.nearPairs.size,
    "exact_copies" -> (nDocs - corpus.uniqueDocs))

  private val samples = mutable.Map.empty[Int, (Double, Double)]

  def op(i: Int): Done = {
    val out = root.resolve(s"curated/op$i")
    val (clean, _) = trace.span("jsonl_read", "io")(JsonlDocs.readSplit(spark, input.toString))
    val docs = clean.select(col("doc_id"), col("text"))
    val survivors = Dedup.exact(docs).cache()
    val nSurvivors = trace.span("exact", "llmops")(survivors.count())
    val lsh = Dedup.minhashPairs(survivors)
    val lshPairs = trace.span("minhash", "llmops")(lsh.collect())
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capDropped = Dedup.capDropMetrics(lsh).values.map(_._1).sum
    val exactPairs = trace.span("jaccard", "llmops")(Dedup.jaccardJoinExact(survivors).collect())
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val drop = (lshPairs ++ exactPairs).map(_._2).toSeq.toDF("doc_id")
    val t0 = System.nanoTime()
    trace.span("jsonl_write", "io")(
      JsonlDocs.write(survivors.join(drop, Seq("doc_id"), "left_anti"), out.toString))
    val writeS = (System.nanoTime() - t0) / 1e9
    survivors.unpersist()
    val attrs = Map(
      "write_s" -> writeS,
      "lsh_pairs" -> lshPairs.size.toDouble, "jaccard_pairs" -> exactPairs.size.toDouble,
      "cap_dropped_rows" -> capDropped.toDouble,
      "pair_agreement" -> (exactPairs & lshPairs).size.toDouble / math.max(1, exactPairs.size))
    Done("dedup", nDocs, () => {
      val found = corpus.nearPairs & (lshPairs ++ exactPairs)
      samples(i) = (found.size.toDouble / corpus.nearPairs.size,
        Workload.du(out)._2.toDouble / Workload.du(input)._2)
      Workload.deleteTree(out)
      val errs = Seq.newBuilder[String]
      if (nSurvivors != corpus.uniqueDocs)
        errs += s"exact dedup kept $nSurvivors docs, generator has ${corpus.uniqueDocs} unique"
      // every planted pair is above the Jaccard threshold, so the exact
      // join must report all of them
      val missed = corpus.nearPairs -- exactPairs
      if (missed.nonEmpty) errs += s"jaccardJoinExact missed ${missed.size} planted pairs"
      errs.result()
    }, attrs)
  }

  def quality(ops: Seq[OpRec]): (Double, Double) = {
    val got = ops.flatMap(o => samples.get(o.i))
    (Workload.median(got.map(_._1)), Workload.median(got.map(_._2)))
  }

  def layers(ops: Seq[OpRec]): Map[String, Double] = {
    def med(k: String) = Workload.median(ops.map(_.attrs.getOrElse(k, 0.0)))
    def span(name: String) = Workload.median(ops.map(o => trace.seconds(o.i, name)))
    Map(
      "exact_s" -> span("exact"), "minhash_s" -> span("minhash"),
      "jaccard_s" -> span("jaccard"), "lsh_pairs" -> med("lsh_pairs"),
      "jaccard_pairs" -> med("jaccard_pairs"), "cap_dropped_rows" -> med("cap_dropped_rows"),
      "pair_agreement" -> med("pair_agreement"))
  }
}
