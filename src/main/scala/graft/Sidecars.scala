package graft

import com.fasterxml.jackson.core.util.JsonGeneratorDelegate
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import graft.plans.QueryMetrics
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale-evidence runner: one entry point for every sidecar that
  * measures an operator family above the sf0.1 board.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.Sidecars <name> [--copies N] [--only a,b,...] [--reps N]"
  * }}}
  *
  * A sidecar is a [[Spec]]: a name, an artifact base name, a default
  * `copies` (none when the sidecar has no corpus-copies axis) and a body
  * that returns its record as a JSON object. The runner owns everything
  * else once: the session, the sf dir (`SPARK_GRAFT_SF_DIR`, sf0.1 by
  * default, as for [[Bench]]), a scratch dir under `java.io.tmpdir` deleted afterwards,
  * the timing rule ([[median]], [[timed]]), the JSON writer (doubles
  * rounded to 3 decimals), the stamps `cpus`, `sf` and `git_sha`, and the
  * output file `<artifact>[_<copies>x].json` in the working directory. The
  * `_<copies>x` suffix appears only when `--copies` differs from the
  * spec's default.
  *
  *  - `--copies N`: corpus copies of the scaled point (sidecars that grow
  *    the corpus; rejected by the others);
  *  - `--only a,b`: run only the named parts the spec declares — queries
  *    (a `qNN` prefix or the full name), regimes, points or ks (rejected
  *    by sidecars that declare none);
  *  - `--reps N`: timed runs per [[median]] (default 3).
  *
  * Every committed artifact and the invocation that regenerates it:
  *
  * {{{
  * BENCH_sf1.json                  dedup
  * BENCH_sf1_100x.json             dedup --copies 100 --only q20,q22,q23 --reps 1
  * BENCH_sf1_ann.json              ann                (committed before q180 joined)
  * BENCH_sf1_ann_100x.json         ann --copies 100   (committed before q180 joined)
  * BENCH_sf1_audio_100x.json       audio --copies 100
  * BENCH_sf1_backfill.json         backfill
  * BENCH_sf1_bpe_apply.json        bpe_apply
  * BENCH_sf1_bpe_batch.json        bpe_batch
  * BENCH_sf1_cc.json               cc
  * BENCH_sf1_curation.json         curation
  * BENCH_sf1_curation_100x.json    curation --copies 100
  * BENCH_sf1_er.json               er
  * BENCH_sf1_eval.json             eval
  * BENCH_sf1_eval_100x.json        eval --copies 100 --only q143,q148
  * BENCH_sf1_inc.json              inc
  * BENCH_sf1_inc_split.json        inc_split
  * BENCH_sf1_inc_split_100x.json   inc_split --copies 100
  * BENCH_sf1_invidx.json           invidx
  * BENCH_sf1_invidx_100x.json      invidx --copies 100
  * BENCH_sf1_langid.json           langid
  * BENCH_sf1_longdoc.json          longdoc
  * BENCH_sf1_multimodal.json       multimodal
  * BENCH_sf1_multimodal_100x.json  multimodal --copies 100 --only q121,q168
  * BENCH_sf1_pack.json             pack
  * BENCH_sf1_pack_100x.json        pack --copies 100
  * BENCH_sf1_probe.json            probe
  * BENCH_sf1_probe_100x.json       probe --copies 100
  * BENCH_sf1_replication.json      replication
  * BENCH_sf1_retrieval.json        retrieval
  * BENCH_sf1_retrieval_100x.json   retrieval --copies 100
  * BENCH_sf1_sketch.json           sketch
  * BENCH_sf1_stream.json           stream
  * BENCH_sf1_stream_100x.json      stream --copies 100
  * BENCH_sf1_substr.json           substr
  * BENCH_sf1_substr_100x.json      substr --copies 100 --only salted
  * BENCH_sf1_substr_inc.json       substr_inc
  * BENCH_sf1_substr_inc_100x.json  substr_inc --copies 100
  * BENCH_sf1_substr_probe.json     substr_probe
  * }}}
  *
  * `bpe_hostile` has no committed artifact: it attributes the dedup
  * sidecar's q108 number (10 merges over the 10x hostile-vocabulary
  * corpus). `pack` is `eval --only q174` and `audio` is
  * `multimodal --only q176`, each under its own artifact name.
  */
object Sidecars {

  /** What a sidecar body gets: the session, the base sf dir, its own
    * scratch dir, the corpus copies, the parts to run (the spec's
    * defaults, or those `--only` named) and the timed runs per median. */
  final case class Ctx(spark: SparkSession, sfDir: String, scratch: String,
                       copies: Int, parts: Seq[String], reps: Int)

  /** A named sidecar. `copies` is the default corpus-copies count, or
    * None when the sidecar has no such axis. `parts` are the named parts
    * it runs by default and `optional` the ones only `--only` selects;
    * `only` presets `--only`. */
  final case class Spec(name: String, artifact: String, copies: Option[Int],
                        parts: Seq[String], body: Ctx => ObjectNode,
                        optional: Seq[String] = Nil, only: Seq[String] = Nil)

  /** One measurement: wall seconds, the run's work counters, its result. */
  final case class Measured[+A](sec: Double, work: QueryMetrics.Metrics, value: A)

  val registry: Seq[Spec] =
    CorpusSidecars.specs ++ StoreSidecars.specs ++ BpeSidecars.specs

  /** Time one run of `f`, metered through [[QueryMetrics]]. */
  def timed[A](f: => A): Measured[A] = {
    val t0 = System.nanoTime()
    val (v, m) = QueryMetrics.measureAction(SparkSession.active)(f)
    Measured((System.nanoTime() - t0) / 1e9, m, v)
  }

  /** THE timing rule (the same as [[Bench.measure]]): drop every memo and
    * cached table, run `f` once untimed, then time `reps` runs and return
    * the median one. `before` runs ahead of every run, outside the timer
    * (per-run setup such as re-initializing a store). */
  def median[A](reps: Int, before: => Unit = ())(f: => A): Measured[A] = {
    MemoRegistry.resetAll()
    SparkSession.active.catalog.clearCache()
    def once(): Measured[A] = { before; timed(f) }
    once()
    Seq.fill(reps)(once()).sortBy(_.sec).apply((reps - 1) / 2)
  }

  /** A query-shaped measurement: `{"sec", "rows"}` (plus its work). */
  def secRows(m: Measured[Long]): ObjectNode = obj("sec" -> m, "rows" -> m.value)

  /** Row count and bit_xor of the row hashes over EVERY output column:
    * a bare count() lets Catalyst prune pure per-row projections down to
    * a parquet row count, so a sidecar would time work it never did. */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(struct(df.columns.toSeq.map(col): _*)).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Deterministic, content-derived corpus scaler (no RNG: the pair
    * structure of the output is known by construction, so a candidate
    * count exploding superlinearly indicts the operator, not the data).
    * Each source doc expands to `copies` rows keyed `doc_id * copies + j`:
    *  - j = 0: the original;
    *  - j in 1..3: near-dups — the original plus a 2-token suffix, so
    *    trigram-shingle Jaccard stays high (the LSH recall target);
    *  - j >= 4: distinct texts — a row-unique token interleaved after
    *    every word, so the unique material dominates the shingle set.
    * Only for sidecars with no id-threshold roles (see [[keyedCopies]]). */
  def scaledDocs(base: DataFrame, copies: Int): DataFrame = {
    val j = explode(sequence(lit(0), lit(copies - 1))).as("j")
    base.select(col("doc_id"), col("text"), col("lang"), col("source"), j)
      .select(
        (col("doc_id") * copies + col("j")).as("doc_id"),
        when(col("j") === 0, col("text"))
          .when(col("j") <= 3, concat(col("text"), lit(" nearcopy "), col("j")))
          .otherwise(array_join(
            flatten(transform(split(col("text"), " "), (t, i) => array(t,
              concat(lit("u"), col("doc_id") * copies + col("j"), lit("p"), i)))),
            " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text"))) // of the MUTATED text
  }

  /** `c` copies of `base`, doc_id re-keyed `id + j * nBase` (j = 0 keeps
    * every original id, so id-derived content and roles survive), other
    * columns unchanged. Salted: "s<j>w<i/4>" is injected after every 4th
    * word of `text` — identical for docs sharing base text within a copy,
    * unique across copies, so per-copy dup structure equals the base
    * corpus while the corpus itself stays the sparse regime. */
  def keyedCopies(base: DataFrame, nBase: Long, c: Int,
                  salted: Boolean = false): DataFrame = {
    val text =
      if (!salted) col("text")
      else
        array_join(flatten(transform(
          expr("split(text, ' ')"),
          (w, i) => when(i % 4 === 3,
              array(w, concat(lit("s"), col("j").cast("string"),
                lit("w"), (i / 4).cast("long").cast("string"))))
            .otherwise(array(w)))), " ")
    base.withColumn("j", explode(sequence(lit(0L), lit(c - 1L))))
      .select(base.columns.toSeq.map {
        case "doc_id" => (col("doc_id") + col("j") * nBase).as("doc_id")
        case "text" => text.as("text")
        case other => col(other)
      }: _*)
  }

  // ---- the record ---------------------------------------------------

  /** A JSON object from (key, value) pairs. Values: numbers, strings,
    * booleans, null, JSON nodes, sequences, and [[Measured]] — written
    * as its seconds under the key plus, when it ran Spark jobs, its
    * layer counters after the other fields, under the key's `work`
    * sibling ("sec" -> "work", "build_sec" -> "build_work", "probe" ->
    * "probe_work"). */
  def obj(fields: (String, Any)*): ObjectNode = {
    val n = JsonNodeFactory.instance.objectNode()
    val works = Seq.newBuilder[(String, QueryMetrics.Metrics)]
    fields.foreach {
      case (k, m: Measured[_]) =>
        n.put(k, m.sec)
        val base = k.stripSuffix("sec").stripSuffix("_")
        if (m.work.jobs > 0) works += (if (base.isEmpty) "work" else s"${base}_work") -> m.work
      case (k, v) => n.set[JsonNode](k, node(v))
    }
    works.result().foreach { case (k, m) => n.set[JsonNode](k, work(m)) }
    n
  }

  private def work(m: QueryMetrics.Metrics): ObjectNode = obj(
    "jobs" -> m.jobs, "stages" -> m.stages, "tasks" -> m.tasks,
    "taskTimeMs" -> m.taskTimeMs, "cpuMs" -> m.cpuMs, "gcMs" -> m.gcMs,
    "deserializeMs" -> m.deserializeMs, "codegenClasses" -> m.codegenClasses,
    "codegenMs" -> m.codegenMs)

  private def node(v: Any): JsonNode = {
    val f = JsonNodeFactory.instance
    v match {
      case null => f.nullNode()
      case n: JsonNode => n
      case b: Boolean => f.booleanNode(b)
      case i: Int => f.numberNode(i)
      case l: Long => f.numberNode(l)
      case d: Double => f.numberNode(d)
      case s: String => f.textNode(s)
      case xs: Iterable[_] =>
        val a = f.arrayNode(); xs.foreach(x => a.add(node(x))); a
      case other => throw new IllegalArgumentException(s"no JSON form for $other")
    }
  }

  private val mapper = new ObjectMapper()

  /** One JSON line; doubles rounded to 3 decimals (Locale.ROOT, so a
    * comma-decimal locale cannot break the JSON), non-finite as null. */
  def render(n: JsonNode): String = {
    val out = new java.io.StringWriter()
    val gen = new JsonGeneratorDelegate(mapper.getFactory.createGenerator(out), false) {
      override def writeNumber(v: Double): Unit =
        if (v.isNaN || v.isInfinite) writeNull()
        else delegate.writeNumber(String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)))
    }
    mapper.writeTree(gen, n)
    gen.flush()
    out.toString
  }

  /** The checkout's commit, or None outside a git checkout. */
  lazy val gitSha: Option[String] = scala.util.Try {
    import scala.sys.process._
    Seq("git", "rev-parse", "HEAD").!!(ProcessLogger(_ => ())).trim
  }.toOption.filter(_.nonEmpty)

  // ---- the run ------------------------------------------------------

  final case class Args(spec: Spec, copies: Int, parts: Seq[String], reps: Int)

  def parse(args: Seq[String]): Args = {
    def usage(msg: String): Nothing = throw new IllegalArgumentException(
      s"$msg\nusage: graft.Sidecars <name> [--copies N] [--only a,b,...] [--reps N]" +
        s"\nsidecars: ${registry.map(_.name).mkString(" ")}")
    def int(flag: String, v: String): Int = v.toIntOption.filter(_ > 0)
      .getOrElse(usage(s"$flag needs a positive integer, got '$v'"))
    val name = args.headOption.getOrElse(usage("no sidecar named"))
    val spec = registry.find(_.name == name).getOrElse(usage(s"unknown sidecar '$name'"))
    var copies = spec.copies
    var only = spec.only
    var reps = 3
    args.drop(1).grouped(2).foreach {
      case Seq("--copies", v) =>
        if (spec.copies.isEmpty) usage(s"sidecar '$name' has no --copies axis")
        copies = Some(int("--copies", v))
      case Seq("--only", v) => only = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case Seq("--reps", v) => reps = int("--reps", v)
      case other => usage(s"bad arguments: ${other.mkString(" ")}")
    }
    // a query part answers to its full name or its qNN prefix
    val declared = spec.parts ++ spec.optional
    def hit(n: String, part: String) = n == part || n == part.takeWhile(_ != '_')
    val unknown = only.filterNot(n => declared.exists(hit(n, _)))
    if (unknown.nonEmpty)
      usage(s"--only ${unknown.mkString(",")}: not a part of '$name' (${declared.mkString(",")})")
    val parts = if (only.isEmpty) spec.parts else declared.filter(p => only.exists(hit(_, p)))
    Args(spec, copies.getOrElse(1), parts, reps)
  }

  /** `<artifact>[_<copies>x].json`: the suffix only off the default. */
  def outputFile(spec: Spec, copies: Int): String =
    spec.artifact + (if (spec.copies.forall(_ == copies)) "" else s"_${copies}x") + ".json"

  /** Run one sidecar on `spark` over `sfDir`, write its stamped record to
    * `outDir`, print it as one line and return the file. */
  def run(spark: SparkSession, a: Args, sfDir: String, outDir: Path): Path = {
    val scratch = Files.createTempDirectory(s"graft_sidecar_${a.spec.name}_")
    val record =
      try a.spec.body(Ctx(spark, sfDir, scratch.toString, a.copies, a.parts, a.reps))
      finally org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
    record.put("cpus", spark.sparkContext.defaultParallelism)
    record.put("sf", sfDir)
    record.set[JsonNode]("git_sha", node(gitSha.orNull))
    val line = render(record)
    val file = outDir.resolve(outputFile(a.spec, a.copies))
    Files.write(file, (line + "\n").getBytes("UTF-8"))
    println(line)
    file
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = EngineSession.create()
    try run(spark, a, sfDir, Paths.get(""))
    finally spark.stop()
  }
}
