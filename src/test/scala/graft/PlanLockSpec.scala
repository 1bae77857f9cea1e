package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Plan-level regression lock for the most expensive bench queries: the
  * NORMALIZED formatted physical plan of each is snapshotted into a golden
  * file, so an accidental broadcast-hint, lost pushdown, or extra shuffle
  * fails a test with a plan diff instead of surfacing as a bench mystery a
  * round later.
  *
  * The normalization strips everything that varies run-to-run (expression
  * ids, codegen ids, plan ids, temp paths, file listings) and keeps what
  * defines the plan: the operator tree, join strategies, partitioning,
  * pushed filters, and read schemas.
  *
  * To accept an INTENTIONAL plan change, regenerate with:
  *   GRAFT_UPDATE_PLANS=1 sbt "testOnly graft.PlanLockSpec"
  * and commit the diff — the review of that diff is the point.
  */
class PlanLockSpec extends SparkSpec {

  /** The round-7 top-10 by per-query min over two clean isolated runs
    * (q72 q89 q77 q81 q73 q71 q88 q96 q63 q74 — the list tracks the
    * current board mechanically, per the r6 verdict), plus retained
    * extras with standing rationales: q18 (the merge-path flagship),
    * q104 (its one-corpus-pass cached shape was a measured 1.7x — a
    * cache-drop regression must surface as a plan diff), q92 (the salted
    * join's rewrite shape), and q48/q49/q94 (former top-set members whose
    * locks are cheap and whose shapes — tf-idf double agg, 5-gram corpus
    * join, mapInPandas frame sampling — have regressed before).
    *
    * q108 (board #1) is EXEMPT by design: BpeTrainer's loop materializes
    * through eager localCheckpoints and returns a driver-built merge
    * table, so its "plan" is a LocalTableScan — zero regression surface
    * (round-6 gotcha). Its regression cover is the oracle gate plus the
    * hostile-vocab sidecar in BENCH_sf1.json.
    * Retired this round (off the top set since r5/r6): q22 q23 q27.
    *
    * Refreshed against the 133-query board (total 66.7 s): the top-10 is
    * q112 q108(exempt) q72 q122 q128 q96 q89 q77 q124 q52 — q128 (audio
    * content dedup) and q52 (audio decode) added below; everything else
    * was already locked. */
  private val locked = Seq(
    // BENCH_r07 driver-board top-10 entrants (the official record, not the
    // friendlier builder rerun): hybrid search (#1), semantic decontaminate
    // (#2), source overlap (#5). q130/q132's no-hashpartitioning spec
    // assertions are necessary but a golden also catches shape drift they
    // can't (a lost broadcast, an extra exchange below the fold).
    "q132_hybrid_search",
    "q130_semantic_decontaminate",
    "q133_source_overlap",
    // round-8 closing-board top-10 entrants: trained language-ID (#2,
    // one cached bigram pass + broadcast model joins) and tokenizer
    // fertility (#3, the BpeEncode node + one doc_id join; its merge-table
    // fingerprint is data-derived — a regen diff is informative, q112
    // precedent)
    "q138_langid_v2",
    "q141_tokenizer_fertility",
    // BENCH_r08 driver-board top-10: the remaining unlocked members (the
    // rule is "lock the official board, not the friendlier rerun" — both
    // were wall-only noise on the driver run, but the lock is cheap and
    // catches the shape drift the noise could mask)
    "q137_langid_eval",
    "q116_cms_topk",
    "q122_trigram_interp",   // board #1: three vocab-sized n-gram joins
    "q124_perplexity_filter",// board #2: q104 subtree + histogram threshold
    "q128_audio_dedup",      // 133-board top-10: cross-container decode +
    "q52_audio_decode",      // fingerprint shapes (mapPartitions scans)
    "q176_audio_neardup",    // r9 near-dup matrix: banded-candidate shape
    "q168_video_neardup",    // (a lost band key or localCheckpoint would
                             // quietly go payload x payload)
    "q177_star_clusters",    // 185-board #7: like q96, the contraction loop
                             // is behind eager localCheckpoints (gotcha
                             // noted round 6) — the golden still locks the
                             // pair-generation subtree and the final label
                             // join; loop-shape drift is covered by the CC
                             // sidecar's round counts
    "q182_graph_importance", // eager power iteration: golden locks the
                             // edge build + final projection shape
    "q190_exact_percentiles",// 191-board #1: the golden only sees the
                             // literal result frame (the counting rounds
                             // are driver-orchestrated aggregates) —
                             // DistributedSelectSpec covers the search;
                             // the lock pins the output contract
    "q191_entity_clusters",  // 191-board #2: q96-style (contraction
                             // behind eager localCheckpoints); locks the
                             // fuzzy-pair subtree + label join
    // BENCH_r09 driver-board top-10: remaining unlocked members (all five
    // were work-metric-identical wall noise on the driver run, but the
    // repo rule is "lock the official board"; the locks are cheap)
    "q189_calibration",      // broadcast-scalar range bins, map-side agg
    "q79_calendar_commands", // delete-cascade replay over command feed
    "q107_bloom_decontaminate", // codegen BloomContains probe shape
    "q151_market_share",     // two-level agg + broadcast dims (TPC-H Q8)
    "q119_novelty_score",    // shingle overlap vs earlier docs
    // BENCH_r10 driver-board top-10: remaining unlocked members (all were
    // work-metric-identical wall noise on the driver run — q155 moved
    // 0.20->2.80 s at 5105 shuffle bytes both rounds — but the repo rule
    // is "lock the official board, not the friendlier rerun")
    "q155_split_drift",      // split-manifest diff: two snapshot scans +
                             // one grouped anti-comparison
    "q174_sequence_pack",    // greedy packing: the one global window runs
                             // over a bucket-count-sized frame (scaladoc'd)
    "q126_small_qty_revenue",// TPC-H Q17-shape: broadcast part filter +
                             // per-part avg subquery join
    // round-11 additions, locked proactively (q201 is board-expensive by
    // construction — two full ingest rounds): like q96/q177, the ingest
    // loop runs eagerly at construction time, so the golden locks the
    // report shape — the store-read label join, the band-keyed cross-pair
    // audit, the broadcast rollup — while loop drift is covered by
    // IncrementalSplitSpec + BENCH_sf1_inc_split.json
    "q201_incremental_split",
    "q202_split_flip_audit", // two CC label joins + 9-row rollup; a lost
                             // coalesce here would misreport flips as NULLs
    "q203_incremental_flip_audit", // q201's lifecycle + q202's report from
                             // store snapshots (before leg pinned eagerly)
    "q204_band_index_probe", // golden pins the partition-filtered index
                             // scan + band join (a lost bucket filter
                             // would quietly read the whole index)
    "q207_admission_probe",  // locked at birth (board-expensive lifecycle
                             // query, r11 lesson): the ingest rounds run
                             // eagerly at construction, so the golden pins
                             // the PROBE shape — the partition-filtered
                             // index scan + band join off the live root
    "q211_incremental_substring", // locked at birth (lifecycle query:
                             // three ledger ingest rounds run eagerly at
                             // construction); the golden pins the REPORT
                             // read off the maintained asg store — loop
                             // drift is covered by IncrementalSubstrSpec
    "q212_substring_admission", // locked at birth (q207 rationale): the
                             // golden pins the PROBE shape — the
                             // semi-join-restricted ledger scan + the
                             // union'd count merge; a lost restriction
                             // would quietly scan the whole ledger
    "q120_incremental_hll",  // BENCH_r12 board top-10's one unlocked
                             // member AND the round's largest work-silent
                             // wall mover (0.77->3.16 s, identical
                             // bytes): pins the register-MAX fold shape
                             // so the next move can be adjudicated
    "q175_shuffled_pack",    // BENCH_r11 board top-10: work-metric-silent
                             // wall noise (0.53->2.40 s, identical bytes)
                             // but the repo rule is "lock the official
                             // board"; pins the two-level cumsum shape
                             // (no single-partition window)
    "q213_index_from_store", // locked at birth (q207/q211 rationale —
                             // lifecycle query: three marker-committed
                             // ingests run eagerly at construction); the
                             // golden pins the STATS read off the store —
                             // the committed-batch partition filter + the
                             // xor-fold aggregate; loop drift is covered
                             // by InvIndexSpec
    "q214_bm25_from_store",  // locked at birth: pins the SEARCH shape —
                             // the bucket-pruned postings scan, broadcast
                             // idf/totals, dbucket-pruned dl join; a lost
                             // bucket filter would quietly read the whole
                             // postings store
    "q192_source_median",    // the last unlocked top-22 board member
                             // (q108 stays exempt: driver-built
                             // LocalTableScan, zero plan surface): q190's
                             // rationale — the counting rounds are
                             // driver-orchestrated, the golden pins the
                             // per-source output contract
    "q134_cdc_chunk_dedup",  // 136-board top-10 entrants: CDC chunk
    "q136_waiting_supplier", // shuffle shape; Q21 decorrelated join-back
    "q123_histogram_quantiles", // 137-board top-10 (sketch bin pipeline)
    "q118_ivfpq_ann",        // composed ANN: the zero-corpus-shuffle probe
                             // join + Partial top-k is the design claim
    "q111_sq8_ann",          // r7 additions: all landed in the top-10
    "q112_bpe_tokenize",     // (merge-chain literals ARE data-derived —
    "q113_bigram_surprisal", // a regen diff is informative, q18 precedent)
    "q104_unigram_surprisal",
    "q72_backfill_pagination",
    "q77_dependency_cascade",
    "q89_distributed_backfill",
    "q71_ics_reconcile",
    "q73_atom_feed_refetch",
    "q96_semantic_dedup",
    "q88_parallel_backfill",
    "q63_large_orders",
    "q74_enrichment_lookup",
    "q48_tfidf_terms",
    "q81_notify_ledger",
    "q49_corpus_ngram_dedup",
    "q94_video_frames",
    "q92_salted_join",
    "q18_replicator_pipeline")

  private val goldenDir = Paths.get("src", "test", "resources", "plans")
  private val update = sys.env.get("GRAFT_UPDATE_PLANS").contains("1")

  private def normalize(plan: String): String =
    plan
      .replace(sfDir, "<SF>")
      // a string literal prints raw: keep a NUL (the JSON NUL scrub's
      // guard) out of the golden, which would otherwise be a binary file
      .replace("\u0000", "<NUL>")
      .replaceAll("#\\d+", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("\\bcodegen id : \\d+", "codegen id : x")
      .replaceAll("WholeStageCodegen \\(\\d+\\)", "WholeStageCodegen (x)")
      .replaceAll("Location: [A-Za-z$.]*FileIndex\\([^)]*\\)\\[[^\\]]*\\]?", "Location: <files>")
      .replaceAll("Location: [A-Za-z$.]*FileIndex[^\\n]*", "Location: <files>")
      .replaceAll("/tmp/[^\\s,)\\]]+", "<TMP>")
      .replaceAll("file:[^\\s,)\\]]+", "<PATH>")
      .replaceAll("\\b\\d+ paths\\b", "N paths")
      .replaceAll("Subquery:\\d+", "Subquery:x")
      .replaceAll("subquery#x, \\[id=#x\\]", "subquery")
      .replaceAll("cachedrdd-\\d+", "cachedrdd-x")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "Lambda@x")
      .replaceAll("@[0-9a-f]{6,}", "@x")
      .replaceAll("\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}(\\.\\d+)?", "<ts>")
      .replaceAll("RDD\\[\\d+\\]", "RDD[n]")          // global RDD id counter
      // localCheckpoint/ExistingRDD prints embed the CALL-SITE line number
      // ("at BandIndex.scala:67") — any edit above the call in that source
      // file (even a comment) would break the lock without a plan change.
      // Mask the line, keep the file (which call produced the RDD still
      // matters): round-11 shipped red at HEAD over exactly this.
      .replaceAll("at (\\S+\\.scala):\\d+", "at $1:<line>")
      // global lambda var counter — covers every generated name (x_NN for
      // one-arg lambdas, y_NN/z_NN for the extra args of two/three-arg
      // lambdas like transform-with-index and aggregate)
      .replaceAll("\\blambda ([a-z]+)_\\d+", "lambda $1_n")
      .replaceAll("StorageLevel\\([^)]*\\)", "StorageLevel(x)")
      // learned-literal arrays (q111's per-dimension stats, centroid
      // codebooks): lock the SHAPE, not the data — a testdata regen must
      // not break the golden when the plan structure is unchanged
      .replaceAll("\\[-?\\d+(?:,-?\\d+){8,}\\]", "<lit-ints>")
      .replaceAll("(?m)[ \\t]+$", "")
      .linesIterator.map(canonExpandGroups).mkString("\n")
      .trim + "\n"

  /** RewriteDistinctAggregates assigns gid values by iterating a HashMap
    * keyed on attribute exprIds — a JVM-global counter — so the Expand
    * duplicate-group order and the `FILTER (WHERE gid = N)` literals flip
    * depending on which suites allocated expressions first. Canonicalize:
    * placeholder the gid literal and sort the group lists, keeping the
    * part that matters (which columns are null'd per group). */
  private val expandArgs = "^(\\s*)Arguments: \\[(\\[.*\\])\\], (\\[.*gid#x.*\\])$".r
  private val gidList = "^(\\s*)(Input|Keys|Results)( \\[\\d+\\]): \\[(.*gid#x.*)\\]$".r
  private val gidHashPart =
    "^(\\s*)Arguments: hashpartitioning\\((.*gid#x.*)\\), (\\S+), \\[plan_id=x\\]$".r

  /** Split a printed expression list on top-level ", " only (commas inside
    * CASE/function parens or nested brackets don't separate items). */
  private def splitTop(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var depth = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '(' || c == '[') { depth += 1; cur.append(c) }
      else if (c == ')' || c == ']') { depth -= 1; cur.append(c) }
      else if (c == ',' && depth == 0 && i + 1 < s.length && s.charAt(i + 1) == ' ') {
        out += cur.toString; cur.clear(); i += 1
      } else cur.append(c)
      i += 1
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }

  private def sortedList(s: String): String = splitTop(s).sorted.mkString(", ")

  private def canonExpandGroups(line: String): String = line match {
    case expandArgs(indent, groups, out) =>
      val canon = groups.stripPrefix("[").stripSuffix("]")
        .split("\\], \\[")
        .map(g => sortedList(g.replaceAll(", \\d+$", ", <g>")))
        .sorted
        .mkString("[", "], [", "]")
      val canonOut = sortedList(out.stripPrefix("[").stripSuffix("]"))
      s"${indent}Arguments: [$canon], [$canonOut]"
    // the distinct-rewrite gid column's POSITION in downstream lists also
    // rides the exprId HashMap iteration order — sort those lists too
    // (which columns flow matters; their print order doesn't)
    case gidList(indent, kind, count, cols) =>
      s"$indent$kind$count: [${sortedList(cols)}]"
    case gidHashPart(indent, args, mode) =>
      val parts = splitTop(args)
      val canon = (sortedList(parts.init.mkString(", ")), parts.last)
      s"${indent}Arguments: hashpartitioning(${canon._1}, ${canon._2}), $mode, [plan_id=x]"
    case _ => line.replaceAll("gid#x = \\d+", "gid#x = <g>")
  }

  /** Plans are built in an ISOLATED session: suites run in parallel on one
    * shared SparkSession, and another suite's temporary conf override (e.g.
    * a disabled broadcast threshold) mid-flight would otherwise flip join
    * strategies in the plan being fingerprinted. `newSession` clones the
    * session state from the builder confs, not the shared session's current
    * runtime mutations. */
  private lazy val planSession = spark.newSession()

  locked.foreach { name =>
    test(s"physical plan locked: $name") {
      // The CacheManager is SHARED across newSession clones and keys
      // entries by canonicalized plan: if a parallel suite cached q104's
      // perDoc subtree first (under the shared session, possibly under
      // mutated runtime conf), the explain substitutes THEIR stored
      // physical subtree, not the one this session would compile — and a
      // concurrent clearCache can also un-substitute mid-build. So each
      // fingerprint clears the cache and re-registers its own entries;
      // the retry below covers the (once-per-suite-run, ms-wide) window
      // where the conflicting suite re-caches between our clear and our
      // build. A real plan change fails all attempts identically.
      def fingerprint(): String = {
        planSession.catalog.clearCache()
        val df = SparkEntry.queries(name)(planSession, sfDir)
        normalize(
          df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      }
      var got = fingerprint()
      val goldenPath = goldenDir.resolve(s"$name.plan.txt")
      if (!update && Files.exists(goldenPath)) {
        val want = Files.readString(goldenPath)
        var attempts = 1
        while (got != want && attempts < 4) { got = fingerprint(); attempts += 1 }
      }
      if (update) {
        Files.createDirectories(goldenDir)
        Files.writeString(goldenPath, got)
        info(s"wrote golden ${goldenPath}")
      } else if (!Files.exists(goldenPath)) {
        // a silently-rewritten golden would disarm the lock (renamed query,
        // deleted resource, fresh checkout) — missing goldens FAIL; only the
        // explicit env flag may (re)write them
        fail(s"missing golden $goldenPath — run GRAFT_UPDATE_PLANS=1 to (re)create")
      } else {
        val want = Files.readString(goldenPath)
        if (got != want) {
          val gotL = got.linesIterator.toVector
          val wantL = want.linesIterator.toVector
          val firstDiff = gotL.zipAll(wantL, "<<missing>>", "<<missing>>")
            .indexWhere { case (a, b) => a != b }
          val ctx = (firstDiff - 2).max(0) to (firstDiff + 6).min(gotL.size.max(wantL.size) - 1)
          val diff = ctx.map { i =>
            val g = gotL.lift(i).getOrElse("<<missing>>")
            val w = wantL.lift(i).getOrElse("<<missing>>")
            if (g == w) s"  $g" else s"- $w\n+ $g"
          }.mkString("\n")
          fail(
            s"""physical plan of $name changed (first diff at line ${firstDiff + 1}):
               |$diff
               |
               |If intentional: GRAFT_UPDATE_PLANS=1 sbt "testOnly graft.PlanLockSpec"
               |then review + commit the golden diff.""".stripMargin)
        }
      }
    }
  }
}
