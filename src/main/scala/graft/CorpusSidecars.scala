package graft

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.Sidecars.{Ctx, Measured, Spec, checksum, keyedCopies, median, obj, scaledDocs, secRows, timed}
import graft.operators.DupClusters
import graft.queries.ExtraQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

/** Sidecars that run board queries over corpora grown from the sf tables:
  * each records wall time with result cardinalities, so a shape claim in
  * SCALE.md (band-keyed shuffles, broadcast model state, dimension-sized
  * outputs) becomes a measured point above the bench scale factor. */
object CorpusSidecars {

  private def short(name: String) = name.takeWhile(_ != '_')

  /** One board query, [[Sidecars.median]]-timed over `dir`; its value is
    * the row count, of every output column hashed or of a bare count(). */
  private def query(ctx: Ctx, name: String, dir: String,
                    hashed: Boolean = true): Measured[Long] = {
    val fn = SparkEntry.queries(name)
    median(ctx.reps) {
      val df = fn(ctx.spark, dir)
      if (hashed) checksum(df)._1 else df.count()
    }
  }

  /** The query table of the single-corpus sidecars (dedup, ann,
    * retrieval): bare count() per query, as those artifacts always were. */
  private def queryTable(ctx: Ctx, metric: String, size: (String, Long)): ObjectNode = {
    val results = ctx.parts.map(q => short(q) -> query(ctx, q, ctx.scratch, hashed = false))
    obj(
      "metric" -> metric, "unit" -> "sec", size,
      "copies" -> ctx.copies, "base_sf" -> ctx.sfDir,
      "queries" -> obj(results.map { case (q, m) => q -> secRows(m) }: _*),
      "total" -> results.map(_._2.sec).sum)
  }

  /** The two-point sidecars: a 1x and a `copies`x corpus from `corpus`,
    * each with its doc count and every part query's hashed median. */
  private def twoPoint(ctx: Ctx, metric: String, corpus: Int => DataFrame,
                       extra: (String, String) => Seq[(String, Any)] = (_, _) => Nil)
      : ObjectNode = {
    val rounds = Seq(1, ctx.copies).map { c =>
      val dir = s"${ctx.scratch}/${c}x"
      corpus(c).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val nDocs = ctx.spark.read.parquet(s"$dir/documents.parquet").count()
      s"${c}x" -> obj(("docs" -> nDocs) +: ctx.parts.map { q =>
        val m = query(ctx, q, dir)
        short(q) -> obj(Seq("sec" -> m, "rows" -> m.value) ++ extra(q, dir): _*)
      }: _*)
    }
    obj(Seq("metric" -> metric, "unit" -> "sec") ++ rounds: _*)
  }

  /** The dedup family over `scaledDocs` (deterministic near-dup cliques
    * of size <= 4 per source doc, everything else singleton): a pair
    * count exploding superlinearly would indict the banding. q133's
    * overlap rows stay 190 (source-bounded) and q134's chunk rows track
    * the corpus. */
  private def dedup(ctx: Ctx): ObjectNode = {
    import ctx._
    scaledDocs(Tables.documents(spark, sfDir), copies)
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val nDocs = spark.read.parquet(s"$scratch/documents.parquet").count()
    queryTable(ctx, "dedup_scale", "n_docs" -> nDocs)
  }

  /** The ANN family over `copies`x the embeddings: the query side stays
    * broadcast (10 query vectors), IVF/LSH scored candidates grow
    * linearly, nothing all-pairs. Copies are keyed `vec_id + j * n_base`
    * so the id-threshold roles (query vectors, PQ codebook and k-means
    * seeds) still pick the original vectors; j >= 1 adds an index-derived
    * perturbation (<= 3e-4) so every IVF cell grows exactly `copies`x. */
  private def ann(ctx: Ctx): ObjectNode = {
    import ctx._
    val base = Tables.embeddings(spark, sfDir)
    // the stride clears every existing id, not just the row count
    val nBase = base.agg(max(col("vec_id"))).head().getLong(0) + 1
    val j = explode(sequence(lit(0), lit(copies - 1))).as("j")
    val newId = col("vec_id") + col("j") * lit(nBase)
    base.select(col("vec_id"), col("embedding"), col("label"), j)
      .select(
        newId.as("vec_id"),
        when(col("j") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (x, i) =>
            (x.cast("double") +
              ((newId * 31 + i) % 7 - 3).cast("double") * lit(1e-4))
              .cast(FloatType)))
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
    val nVecs = spark.read.parquet(s"$scratch/embeddings.parquet").count()
    queryTable(ctx, "ann_scale", "n_vectors" -> nVecs)
  }

  /** The retrieval/graph family (q177-q183). q178 rows stay ~k, q181
    * rows track the scaled vocabulary, q183 rows stay top-k, q182 rows
    * track nodes (the graph is `copies` disjoint key-offset copies).
    * q179's heavy-hitter set shrinks by construction: the distinct-copy
    * filler tokens dilute every real token's share below n/k. */
  private def retrieval(ctx: Ctx): ObjectNode = {
    import ctx._
    scaledDocs(Tables.documents(spark, sfDir), copies)
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
    val maxO = li.agg(max(col("l_orderkey"))).head().getLong(0) + 1
    val maxS = li.agg(max(col("l_suppkey"))).head().getLong(0) + 1
    li.select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"),
        explode(sequence(lit(0), lit(copies - 1))).as("j"))
      .select((col("l_orderkey") + col("j") * maxO).as("l_orderkey"),
        (col("l_suppkey") + col("j") * maxS).as("l_suppkey"),
        col("l_quantity"))
      .write.mode("overwrite").parquet(s"$scratch/lineitem.parquet")
    val nDocs = spark.read.parquet(s"$scratch/documents.parquet").count()
    queryTable(ctx, "retrieval_scale", "n_docs" -> nDocs)
  }

  /** The eval/governance family: model and vocabulary state is dim-sized
    * and broadcast, report outputs (q143 per source, q148 five stages,
    * q139 one row) stay flat while wall tracks the corpus. */
  private def eval(ctx: Ctx): ObjectNode =
    twoPoint(ctx, "eval_scale",
      c => scaledDocs(Tables.documents(ctx.spark, ctx.sfDir), c))

  /** The curation family (q194-q199): one or two corpus scans into keyed
    * aggregates, no window over the corpus, no doc x doc frame; copies
    * keep their text, so per-source structure replicates exactly. */
  private def curation(ctx: Ctx): ObjectNode = {
    val base = Tables.documents(ctx.spark, ctx.sfDir)
    val nBase = base.count()
    twoPoint(ctx, "curation_scale", keyedCopies(base, nBase, _))
  }

  /** The multimodal family: one codec pass per payload, candidate pairs
    * only inside content-key buckets. Copies are keyed `doc_id + j *
    * n_base` with n_base divisible by 4, so every copy preserves the
    * generators' planted group structure (id DIV 4 / id % 4); the
    * generators are periodic in the group id, so pair counts grow
    * superlinearly with genuine cross-group dups. q176 also records its
    * candidate volume, where a collision-prone band key would show. */
  private def multimodal(ctx: Ctx): ObjectNode = {
    val base = Tables.documents(ctx.spark, ctx.sfDir)
    val nBase = base.count()
    twoPoint(ctx, "multimodal_scale", keyedCopies(base, nBase, _),
      (q, dir) =>
        if (q == "q176_audio_neardup")
          Seq("cand_pairs" ->
            queries.MultimodalQueries.q176Candidates(ctx.spark, dir)._2.count())
        else Nil)
  }

  /** q47 (in-row array HOFs, O(tokens^2) per doc) against q166 (explode +
    * keyed aggregate, O(tokens)) at a FIXED total token budget: length
    * factor k keeps every doc_id % k == 0 and repeats its text k times.
    * q47's wall must grow with k while q166's stays flat. The ladder stops
    * at 64x: at 256x one straggler doc kept a core busy for over 30 min
    * in the HOF leg. */
  private def longdoc(ctx: Ctx): ObjectNode = {
    import ctx._
    val rounds = parts.map { key =>
      val k = key.stripSuffix("x").toInt
      val dir = s"$scratch/$key"
      Tables.documents(spark, sfDir)
        .where(col("doc_id") % k === 0)
        .select(col("doc_id"),
          array_join(array_repeat(col("text"), k), " ").as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val stats = spark.read.parquet(s"$dir/documents.parquet")
        .agg(count(lit(1)), sum(size(split(col("text"), " ")))).collect().head
      key -> obj(Seq("docs" -> stats.getLong(0), "tokens" -> stats.getLong(1)) ++
        Seq("q47_repetition_signals", "q166_repetition_linear")
          .map(q => short(q) -> secRows(query(ctx, q, dir))): _*)
    }
    obj(Seq("metric" -> "longdoc_scale", "unit" -> "sec") ++ rounds: _*)
  }

  /** The trained language-ID at 5 vs 50 hash-assigned synthetic classes.
    * q158's scoring is a projection over the literal model: input records
    * and shuffle bytes must not grow with the class count. q138's widest
    * frame is distinct-(doc, bigram) x classes after the occurrence
    * aggregation, never occurrences x classes. */
  private def langid(ctx: Ctx): ObjectNode = {
    import ctx._
    val rounds = parts.map { key =>
      val nLangs = key.stripSuffix("_langs").toInt
      val dir = s"$scratch/$key"
      Tables.documents(spark, sfDir)
        .withColumn("lang", concat(lit("lang_"),
          lpad(pmod(xxhash64(col("doc_id")), lit(nLangs)).cast("string"), 2, "0")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      key -> obj(Seq("q138_langid_v2", "q158_langid_deploy").map { q =>
        val m = query(ctx, q, dir)
        short(q) -> obj("sec" -> m, "rows" -> m.value,
          "inputRecords" -> m.work.inputRecords,
          "shuffleWriteBytes" -> m.work.shuffleWriteBytes)
      }: _*)
    }
    obj(Seq("metric" -> "langid_class_scale", "unit" -> "sec") ++ rounds: _*)
  }

  /** q208 (exact duplicated-substring spans) and q209 (stride chunking)
    * over two regimes per scale:
    *  - `salted`: copies made mutually unique by position-keyed salt
    *    tokens while dup structure within a copy is the base corpus's —
    *    the sparse regime the operator is designed for, wall ~linear;
    *  - `plain`: verbatim copies, so every window repeats >= copies times
    *    and the covered set saturates — the worst case, which must stay
    *    ~linear with a larger constant (nothing pairs documents).
    * q209 runs on the plain corpus only (chunking is per doc). */
  private def substr(ctx: Ctx): ObjectNode = {
    import ctx._
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val nBase = base.count()
    val rounds = Seq(1, copies).map { c =>
      val regimes = parts.map { regime =>
        val salted = regime == "salted"
        val dir = s"$scratch/${c}x_$regime"
        keyedCopies(base, nBase, c, salted)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val q208 = "q208" -> secRows(query(ctx, "q208_substring_dedup", dir))
        val q209 =
          if (salted) Nil else Seq("q209" -> secRows(query(ctx, "q209_stride_chunking", dir)))
        regime -> obj(q208 +: q209: _*)
      }
      s"${c}x" -> obj(("docs" -> c * nBase) +: regimes: _*)
    }
    obj(Seq("metric" -> "substr_scale", "unit" -> "sec") ++ rounds: _*)
  }

  /** Entity resolution (q184 fuzzy join, q191 canonical ids): FastSS cost
    * tracks the NAME DICTIONARY, never the record table.
    *  - `records`: the part table at 1x/10x/100x with the same 64-name
    *    dictionary — signatures, pairs and contraction rounds stay flat;
    *  - `dict`: the dictionary at 1x/8x/26x (copy j prefixes every name
    *    with `repeat(letter_j, 4)`, >= 4 edits from other copies) —
    *    signatures and pairs grow ~linearly in names. */
  private def er(ctx: Ctx): ObjectNode = {
    import ctx._
    val base = Tables.part(spark, sfDir)
    val nBase = base.count()

    def measure(dir: String): ObjectNode = {
      val q184 = median(reps)(checksum(ExtraQueries.q184(spark, dir))._1)
      val nRecords = Tables.part(spark, dir).count()
      val names = Tables.part(spark, dir).select(col("p_name").as("name")).distinct()
      val (sigs, cands, ver) = ExtraQueries.fuzzyNameStages(names)
      val nNames = names.count()
      val nSigs = sigs.count()
      val nCands = cands.count()
      val pairs = ver.select(col("name_a").as("doc_a"), col("name_b").as("doc_b"))
      // force the distributed tier: star_rounds IS the log^2 evidence,
      // which the driver union-find tier would absorb
      val q191 = timed {
        val (labels, rounds) = DupClusters.assignStarWithRounds(pairs, driverMaxEdges = 0)
        (labels.select(col("cluster_id")).distinct().count(), rounds)
      }
      obj("records" -> nRecords, "names" -> nNames, "sigs" -> nSigs,
        "cand_pairs" -> nCands, "verified_pairs" -> q184.value,
        "entities" -> q191.value._1, "star_rounds" -> q191.value._2,
        "sec_q184" -> q184, "sec_q191" -> q191)
    }

    def points(axis: String, scales: Seq[Int], rename: Boolean): ObjectNode =
      obj(scales.map { c =>
        val dir = s"$scratch/$axis${c}x"
        val copied = base.withColumn("j", explode(sequence(lit(0L), lit(c - 1L))))
          .withColumn("p_partkey", col("p_partkey") + col("j") * nBase)
        val named =
          if (!rename) copied
          else copied.withColumn("p_name",
            concat(expr("repeat(substring('abcdefghijklmnopqrstuvwxyz', " +
              "CAST(j AS INT) + 1, 1), 4)"), lit(" "), col("p_name")))
        named.drop("j").write.mode("overwrite").parquet(s"$dir/part.parquet")
        s"${c}x" -> measure(dir)
      }: _*)

    val axes = parts.map {
      case "records" => "records" -> points("rec", Seq(1, 10, 100), rename = false)
      case "dict" => "dict" -> points("dict", Seq(1, 8, 26), rename = true)
    }
    obj(Seq("metric" -> "er_scale", "unit" -> "sec") ++ axes: _*)
  }

  private val evalQueries = Seq("q138_langid_v2", "q139_classifier_auc",
    "q142_oov_rate", "q143_dataset_card", "q147_html_extract", "q148_pipeline_funnel")
  private val multimodalQueries = Seq("q121_image_dedup", "q144_image_neardup",
    "q128_audio_dedup", "q168_video_neardup", "q176_audio_neardup")

  val specs: Seq[Spec] = {
    val evalSpec = Spec("eval", "BENCH_sf1_eval", Some(10), evalQueries, eval,
      optional = Seq("q174_sequence_pack"))
    val mmSpec = Spec("multimodal", "BENCH_sf1_multimodal", Some(10), multimodalQueries,
      multimodal)
    Seq(
      Spec("dedup", "BENCH_sf1", Some(10), Seq(
        "q20_dedup_exact", "q21_minhash_signatures", "q22_lsh_candidate_pairs",
        "q23_jaccard_near_dups", "q24_simhash", "q25_simhash_near_dups",
        "q49_corpus_ngram_dedup", "q106_segment_dedup", "q107_bloom_decontaminate",
        "q108_bpe_merges", "q133_source_overlap", "q134_cdc_chunk_dedup"), dedup),
      Spec("ann", "BENCH_sf1_ann", Some(10), Seq(
        "q30_knn_bruteforce_mips", "q31_ivf_label_pruned_ann", "q39_lsh_bucket_ann",
        "q58_pq_ann", "q118_ivfpq_ann", "q54_kmeans", "q180_prototype_prune"), ann),
      Spec("retrieval", "BENCH_sf1_retrieval", Some(10), Seq(
        "q177_star_clusters", "q178_pps_sample", "q179_mg_heavy_hitters",
        "q181_inverted_index", "q182_graph_importance", "q183_bm25_search"), retrieval),
      evalSpec,
      evalSpec.copy(name = "pack", artifact = "BENCH_sf1_pack", only = Seq("q174")),
      Spec("curation", "BENCH_sf1_curation", Some(10), Seq(
        "q194_cluster_split", "q195_snapshot_diff", "q196_drop_audit",
        "q197_phrase_search", "q198_token_budget", "q199_boilerplate"), curation),
      mmSpec,
      mmSpec.copy(name = "audio", artifact = "BENCH_sf1_audio", only = Seq("q176")),
      Spec("longdoc", "BENCH_sf1_longdoc", None, Seq("1x", "8x", "64x"), longdoc),
      Spec("langid", "BENCH_sf1_langid", None, Seq("5_langs", "50_langs"), langid),
      Spec("substr", "BENCH_sf1_substr", Some(10), Seq("salted", "plain"), substr),
      Spec("er", "BENCH_sf1_er", None, Seq("records", "dict"), er))
  }
}
