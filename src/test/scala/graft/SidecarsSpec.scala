package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The sidecar registry covers every committed scale artifact, and one
  * run through the runner writes a stamped record shaped like its
  * artifact. */
class SidecarsSpec extends SparkSpec {

  private val stamps = Set("cpus", "sf", "git_sha")
  private val mapper = new ObjectMapper()

  test("every registry name maps to a distinct output file") {
    val files = Sidecars.registry.map(s => Sidecars.outputFile(s, s.copies.getOrElse(1)))
    assert(Sidecars.registry.map(_.name).distinct.size == Sidecars.registry.size)
    assert(files.distinct.size == files.size, files.diff(files.distinct).mkString(","))
  }

  test("every committed BENCH_sf1*.json is the output of some sidecar and copies") {
    val committed = Files.list(Paths.get("")).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("BENCH_sf1") && n.endsWith(".json")).toSeq
    assert(committed.nonEmpty, "run from the repository root")
    val produced = (for {
      s <- Sidecars.registry
      c <- s.copies.toSeq ++ Seq(1, 10, 100)
      if s.copies.nonEmpty || c == 1
    } yield Sidecars.outputFile(s, c)).toSet
    assert(committed.filterNot(produced).isEmpty,
      s"no sidecar writes ${committed.filterNot(produced).mkString(", ")}")
  }

  test("bad arguments are rejected before anything runs") {
    intercept[IllegalArgumentException](Sidecars.parse(Seq("nosuch")))
    intercept[IllegalArgumentException](Sidecars.parse(Seq("langid", "--copies", "2")))
    intercept[IllegalArgumentException](Sidecars.parse(Seq("dedup", "--only", "q999")))
    intercept[IllegalArgumentException](Sidecars.parse(Seq("inc", "--only", "x")))
    intercept[IllegalArgumentException](Sidecars.parse(Seq("dedup", "--reps", "0")))
    val pack = Sidecars.parse(Seq("pack", "--copies", "100"))
    assert(pack.parts == Seq("q174_sequence_pack"))
    assert(Sidecars.outputFile(pack.spec, pack.copies) == "BENCH_sf1_pack_100x.json")
    val eval = Sidecars.parse(Seq("eval", "--only", "q143,q148_pipeline_funnel"))
    assert(eval.parts == Seq("q143_dataset_card", "q148_pipeline_funnel"))
  }

  test("langid through the runner writes a stamped record keyed like its artifact") {
    val out = Files.createTempDirectory("sidecars")
    val file = Sidecars.run(spark, Sidecars.parse(Seq("langid", "--reps", "1")), sfDir, out)
    assert(file.getFileName.toString == "BENCH_sf1_langid.json")
    val got = mapper.readTree(file.toFile)
    val want = mapper.readTree(Paths.get("BENCH_sf1_langid.json").toFile)
    assert(got.get("sf").asText == sfDir && got.get("cpus").asInt > 0)
    assert(got.has("git_sha"))
    assert(got.fieldNames.asScala.toSet -- stamps == want.fieldNames.asScala.toSet -- stamps)
    val q158 = got.get("50_langs").get("q158")
    assert(q158.get("rows").asLong > 0 && q158.get("work").get("jobs").asLong > 0)
    val work = q158.get("work")
    assert(work.fieldNames.asScala.toSet == Set("jobs", "stages", "tasks", "taskTimeMs",
      "cpuMs", "gcMs", "deserializeMs", "codegenClasses", "codegenMs"), work.toString)
    Seq("deserializeMs", "codegenClasses", "codegenMs").foreach { k =>
      assert(work.get(k).isIntegralNumber && work.get(k).asLong >= 0, s"$k in $work")
    }
  }
}
