package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's stdout rule as pure functions: which queries the line
  * omits depends on the set's names alone (never on walls or on a
  * file), the line always fits the byte budget, it carries every
  * contract field a stdout reader parses, and the full artifact lists the
  * omitted names. Also pins where the artifacts go, that the plan
  * audit's normalization makes two builds of one query compare equal,
  * and that an unstable graft plan is reported as such, not bisected. */
class BenchSpec extends AnyFunSuite {
  private val sf = "testdata/sf0.1"
  private val names = Bench.headline
  private def run(wall: String => Double): Bench.Run = Bench.Run("full", sf, "BENCH_FULL.json", names,
    names.map(n => n -> wall(n)).toMap,
    Some(names.filterNot(Bench.graftOnly).map(n => n -> wall(n) * 1.1).toMap),
    names.filter(Bench.graftOnly), Nil)
  private val kept = Bench.stdoutKept("full", sf, "BENCH_FULL.json", names)
  private def parse(s: String) = new ObjectMapper().readTree(s)
  private def shown(line: String): Seq[String] = {
    val b = Seq.newBuilder[String]
    parse(line).get("queries").fieldNames().forEachRemaining(n => b += n)
    b.result()
  }

  test("two wall maps over the same names show the same names") {
    val a = Bench.stdoutLine(run(n => 0.01 * n.length), kept)
    val b = Bench.stdoutLine(run(n => 100.0 / n.length), kept)
    assert(shown(a) === kept)
    assert(shown(b) === kept)
    assert(kept === names.take(kept.size), "omission drops from the set's end")
    assert(kept.nonEmpty && kept.size < names.size)
  }

  test("the headline line fits the budget with every wall at its widest") {
    val line = Bench.stdoutLine(run(_ => Bench.widestWall), kept)
    assert(line.getBytes("UTF-8").length <= Bench.stdoutBudget)
  }

  test("the line parses and carries every contract field") {
    val node = parse(Bench.stdoutLine(run(_ => 1.5), kept))
    Seq("metric", "value", "unit", "queries", "vanilla_total", "graft_vs_vanilla_ratio",
      "comparable_n", "vanilla_skipped_n", "graft_failed_n", "queries_omitted",
      "set", "detail", "sf").foreach(f => assert(node.has(f), f))
    assert(node.get("metric").asText() === "total")
    assert(node.get("queries_omitted").asInt() === names.size - kept.size)
    assert(node.get("comparable_n").asInt() === names.count(n => !Bench.graftOnly(n)))
    assert(node.get("vanilla_skipped_n").asInt() === Bench.graftOnly.size)
    assert(math.abs(node.get("value").asDouble() - 1.5 * names.size) < 0.01)
    assert(math.abs(node.get("graft_vs_vanilla_ratio").asDouble() - 1 / 1.1) < 0.001)
  }

  test("the full artifact lists the omitted names: the set minus the kept names") {
    val full = parse(Bench.fullArtifact(run(_ => 0.5), kept, Nil, Map()))
    val omitted = Seq.newBuilder[String]
    full.get("stdout_omitted").forEach(n => omitted += n.asText())
    assert(omitted.result() === names.filterNot(kept.toSet))
    assert(full.get("queries").size() === names.size)
  }

  test("the compact artifact is BENCH_COMPACT.json beside the full one, which detail names") {
    import java.nio.file.Paths
    assert(Bench.artifactPaths(None) ===
      (Paths.get("BENCH_FULL.json"), Paths.get("BENCH_COMPACT.json")))
    val out = "/tmp/bench_out/run_a.json"
    val (full, compactPath) = Bench.artifactPaths(Some(out))
    assert(full === Paths.get(out))
    assert(compactPath === Paths.get("/tmp/bench_out/BENCH_COMPACT.json"))
    val detail = full.getFileName.toString
    val r = run(_ => 1.0).copy(detail = detail)
    val line = parse(Bench.stdoutLine(r, Bench.stdoutKept("full", sf, detail, names)))
    assert(line.get("detail").asText() === "run_a.json")
    assert(parse(Bench.compactArtifact(r)).get("detail").asText() === "run_a.json")
  }

  test("the full artifact writes the layers it is given, per engine, and no telemetry") {
    val built = PlanHealth.Layer(wallNs = 700000000L, jobNames = Vector("a", "b"), tasks = 8)
    val ran = PlanHealth.Layer(wallNs = 300000000L, stages = 2, spillBytes = 42L)
    val q = names.head
    val full = parse(Bench.fullArtifact(run(_ => 1.0), kept, Nil,
      Map("graft" -> Map(q -> (built, ran)), "vanilla" -> Map(q -> (ran, built)))))
    assert(!full.has("telemetry"))
    val g = full.get("layers").get("graft")
    assert(g.size() === 1)
    assert(g.get(q).get("construction").get("jobs").asLong() === 2L)
    assert(g.get(q).get("construction").get("wall_ms").asLong() === 700L)
    assert(g.get(q).get("execution").get("spill_bytes").asLong() === 42L)
    assert(full.get("layers").get("vanilla").get(q).get("execution").get("tasks").asLong() === 8L)
    assert(Bench.wall((built, ran)) === 1.0)
  }

  test("a conf override keeps a comma inside its value") {
    assert(GraftSession.confOverrides(
      "spark.sql.optimizer.excludedRules=a.B,c.D,spark.sql.ansi.enabled=false") ===
      Seq("spark.sql.optimizer.excludedRules" -> "a.B,c.D", "spark.sql.ansi.enabled" -> "false"))
  }

  test("an unstable graft plan is reported as unstable-plan and bisects no conf") {
    var builds = 0
    val flips = Seq.newBuilder[Seq[String]]
    def flipped(keys: Seq[String]): String = { flips += keys; "G" }
    // two builds that print differently: the one cause, no flip built
    val unstable = Bench.auditCauses(() => { builds += 1; s"G$builds" }, () => "V", flipped)
    assert(unstable === Some(Seq(Bench.UnstablePlan)))
    assert(builds === 2)
    assert(flips.result().isEmpty)
    // a stable plan equal to vanilla has no causes
    assert(Bench.auditCauses(() => "V", () => "V", flipped) === None)
    assert(flips.result().isEmpty)
    // a stable delta bisects every tuned conf, then all of them at once
    val key = Bench.tunedConfKeys.head
    val stable = Bench.auditCauses(() => "G", () => "V", keys => {
      flips += keys
      if (keys == Bench.tunedConfKeys) "V" else if (keys == Seq(key)) "G2" else "G"
    })
    assert(stable === Some(Seq(key)))
    assert(flips.result() === Bench.tunedConfKeys.map(Seq(_)) :+ Bench.tunedConfKeys)
    assert(Bench.auditCauses(() => "G", () => "V", _ => "G") === Some(Seq("injected-rules")))
  }

  // lake_zorder_skip: the z-order file bounds, and so the scan's
  // files=kept/total, must be a function of the data alone
  for (name <- Seq("dedup_semantic", "lake_zorder_skip"))
    test(s"two builds of $name normalize to the same plan") {
      val spark = GraftSparkSession.spark
      val a = Bench.normPlan(spark, GraftSparkSession.sfDir, name)
      val b = Bench.normPlan(spark, GraftSparkSession.sfDir, name)
      assert(a === b)
    }
}
