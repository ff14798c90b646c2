package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's stdout rule as pure functions: which queries the line
  * omits depends on the set's names alone (never on walls or on a
  * file), the line always fits the byte budget, it carries every
  * contract field a stdout reader parses, and the full artifact lists the
  * omitted names. */
class BenchSpec extends AnyFunSuite {
  private val sf = "testdata/sf0.1"
  private val names = Bench.headline
  private def run(wall: String => Double): Bench.Run = Bench.Run("full", sf, names,
    names.map(n => n -> wall(n)).toMap,
    Some(names.filterNot(Bench.graftOnly).map(n => n -> wall(n) * 1.1).toMap),
    names.filter(Bench.graftOnly), Nil)
  private val kept = Bench.stdoutKept("full", sf, names)
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
    val full = parse(Bench.fullArtifact(run(_ => 0.5), kept, Nil, Nil))
    val omitted = Seq.newBuilder[String]
    full.get("stdout_omitted").forEach(n => omitted += n.asText())
    assert(omitted.result() === names.filterNot(kept.toSet))
    assert(full.get("queries").size() === names.size)
  }
}
