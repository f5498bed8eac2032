package graft

import org.apache.spark.sql.functions._

class RobustnessSpec extends SparkTestBase {
  import spark.implicits._

  test("approx_count_distinct stays within 5% of exact") {
    val li = Tables.lineitem(spark, sf0001)
    val r = li.agg(
      countDistinct($"l_partkey").as("exact"),
      approx_count_distinct($"l_partkey", 0.01).as("approx")).head()
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"exact=$exact approx=$approx")
  }

  test("every inventory query is deterministic across runs") {
    // the driver hash-compares outputs; any nondeterminism (unstable
    // sort, uncontrolled sampling) breaks the gate silently — catch it
    // here on the cheap SF for a representative mix including sketches
    val picked = Seq("q06_argmax_latest", "q20_exact_dedup",
      "q24_minhash_pairs", "q26_embedding_pairs", "q36_lsh_topk",
      "q43_ivf_topk", "q45_winnow_pairs", "q46_range_join",
      "q60_ngram_jaccard", "q61_stratified_sample", "q62_bloom_prune",
      "q63_approx_distinct", "q65_bloom_decontam", "q66_corpus_shuffle",
      "q67_quantile_bins", "q69_dup_clusters", "q70_cluster_dedup",
      "q71_chunk_windows", "q73_clean_corpus", "q74_profile",
      "q75_compression", "q76_ngram_decontam", "q77_token_budget",
      "q78_asof_forward", "q79_snapshot_diff", "q80_pagerank",
      "q81_set_ops", "q82_sql_surface", "q89_ann_recall",
      "q90_imi_adc_topk", "q91_residual_adc", "q92_sq8_topk",
      "q93_ann_index",
      // round-10 third batch: graph, journeys, sharding, forensics
      "q182_triangles", "q183_transitions", "q184_rendezvous",
      "q187_containment_join", "q189_rake_keywords", "q190_kcore",
      "q192_dup_matrix", "q196_prefix_completions",
      "q197_session_paths", "q198_skew_report", "q199_cdc_merge",
      "q200_personalized_pagerank", "q201_rank_normalize",
      "q202_shard_manifest", "q203_source_overlap", "q205_recrawl",
      // round 11: graph/events, audits, retrieval/ANN additions
      "q207_label_propagation", "q208_bfs_distances",
      "q209_attribution", "q210_basket_lift", "q211_content_drift",
      "q212_fk_audit", "q213_winsorize", "q214_calibration",
      "q215_lsh_recall_audit", "q216_sample_audit", "q217_bm25f",
      "q218_multiprobe_ann", "q219_semantic_decontam",
      "q220_textrank", "q221_pseudonymize", "q222_k_anonymity",
      "q223_heaps_profile", "q224_phrase_search",
      "q225_distinctive_terms", "q226_community_report",
      "q227_concentration", "q228_ab_test", "q229_semantic_chunks",
      "q230_pca_contract", "q231_pca_ann", "q232_bm25_segmented",
      "q233_versioned_root", "q234_l_diversity", "q235_isotropy",
      "q236_dehyphenate", "q237_psi_drift", "q238_good_turing",
      "q239_card_redaction", "q240_embedding_outliers",
      "q241_graph_health", "q242_psi_windows", "q243_fuzzy_pairs",
      "q244_change_point", "q245_profile_drift", "q246_soft_dedup",
      "q247_entity_clusters", "q248_burstiness", "q249_quote_spans",
      // round 14: agreement family, order-aware ROUGE, leakage pairs
      "q251_cohen_kappa", "q258_krippendorff_alpha", "q259_rouge_l",
      "q260_weighted_kappa", "q261_alpha_interval",
      "q262_leakage_pairs", "q263_fleiss_kappa",
      "q264_politeness_overlap", "q265_gwet_ac1",
      "q266_alpha_ordinal", "q267_consensus_labels",
      "q268_rater_outliers", "q269_bleu", "q270_chrf")
    for (name <- picked) {
      val fn = SparkEntry.queries(name)
      val a = fn(spark, sf0001).collect().map(_.toString).sorted.toSeq
      val b = fn(spark, sf0001).collect().map(_.toString).sorted.toSeq
      assert(a == b, s"$name is nondeterministic")
    }
  }

  test("sampling/dedup additions survive degenerate inputs") {
    val D = graft.llmops.Dedup
    val docs = Tables.documents(spark, sf0001)
      .filter($"doc_id" < 40).select($"doc_id", $"text")
    // empty benchmark: bloom of nothing rejects everything → all survive
    val emptyBench = docs.filter(lit(false)).select($"text")
    assert(D.bloomDecontaminate(docs, emptyBench,
      expectedItems = 10L).count() == docs.count())
    // corpus slice with no near-dups: empty candidate set must not throw
    assert(D.ngramJaccardPairs(D.exact(docs).limit(10)).count() == 0)
    // null text: keep-decision is null → filtered out, not an error
    val S = graft.llmops.Splits
    val withNull = Seq[Option[String]](None, Some("abc")).toDF("text")
    val kept = withNull.filter(
      S.sampleHash($"text", S.stratumThreshold(lit("s"), Map.empty, 1.0)))
      .count()
    assert(kept == 1) // rate 1.0 keeps every non-null row
  }

  test("round-4 operators validate args and survive degenerate inputs") {
    val docs = Tables.documents(spark, sf0001)
      .filter($"doc_id" < 20).select($"doc_id", $"text")
    // stride must not exceed window
    intercept[IllegalArgumentException] {
      graft.llmops.Chunking.slidingChunks(docs, 4, 8)
    }
    // cleaning an empty corpus is empty, not an error
    assert(graft.llmops.Corpus.clean(docs.limit(0),
      benchmark = Some(docs.select($"text"))).count() == 0)
    // self-loop-only edge set: no real components, empty labeling
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("id_a", "id_b")
    assert(graft.ops.ConnectedComponents.components(loops).count() == 0)
    // profiling a zero-row table still yields one row per column
    val prof = graft.ops.Profiling.profile(docs.limit(0))
    assert(prof.count() == 2)
    assert(prof.filter($"n_rows" =!= 0).count() == 0)
    // pagerank of an empty edge set: no nodes, no error
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.ops.PageRank.ranks(noEdges, iterations = 2).count() == 0)
    // snapshot diff with disjoint key spaces: pure adds + removes
    val b = Seq((1L, "x")).toDF("doc_id", "text")
    val a = Seq((2L, "y")).toDF("doc_id", "text")
    val st = graft.ops.SnapshotDiff.diff(b, a)
      .as[(Long, String)].collect().toMap
    assert(st == Map(1L -> "removed", 2L -> "added"))
  }

  test("round-5 operators survive degenerate inputs") {
    // vocab induction: null text rows vanish, empty corpus is empty
    val odd = Seq[Option[String]](None, Some(""), Some("   "), Some("a b"))
      .toDF("text")
    assert(graft.llmops.Vocab.bpePairCounts(odd, $"text").count() == 0)
    assert(graft.llmops.Vocab.bpePairCounts(odd.limit(0), $"text").count() == 0)
    // semantic pairs: empty corpus (empty centroid set) and null
    // embeddings produce empty results, not errors
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(graft.llmops.Dedup.semanticPairs(emptyVecs, nlist = 4).count() == 0)
    val withNulls = Tables.embeddings(spark, sf0001).limit(20)
      .unionByName(Seq((9999L, null: Seq[Float], 0))
        .toDF("vec_id", "embedding", "label"))
    assert(graft.llmops.Dedup
      .semanticPairs(withNulls, threshold = 2.0, nlist = 4).count() == 0)
    // CollectTopK rejects out-of-range k at construction
    intercept[IllegalArgumentException] {
      graft.llmops.CollectTopK(
        org.apache.spark.sql.catalyst.expressions.Literal(1L),
        org.apache.spark.sql.catalyst.expressions.Literal(1.0), 0)
    }
  }

  test("text operators survive nulls, empties, and non-ASCII") {
    val T = graft.llmops.TextFuncs
    val df = Seq[Option[String]](None, Some(""), Some("   "),
      Some("héllo wörld 你好 مرحبا"), Some("a\u0000b"))
      .toDF("t")
    // none of these may throw; null propagates, empty yields zeros
    val rows = df.select(
      T.redactPii($"t").as("r"),
      T.duplicateWordFraction($"t").as("dw"),
      T.duplicateNgramFraction($"t", 2).as("d2"),
      T.tokenCount($"t").as("n"),
      graft.llmops.Sketches.simhash64($"t").as("fp"),
      graft.llmops.Sketches.minhash_signature($"t", 5, 16).as("sig"),
      graft.llmops.Winnowing.winnow_fingerprints($"t").as("wfp")).collect()
    assert(rows.length == 5)
    assert(rows(0).isNullAt(0)) // null text → null redaction
    assert(rows(1).getAs[Int]("n") == 0 && rows(2).getAs[Int]("n") == 0)
  }
}
