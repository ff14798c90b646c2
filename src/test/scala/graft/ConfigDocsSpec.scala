package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** CONFIG.md is generated: a conf registered in GraftConf, or a harness
  * variable added or removed, without a regeneration fails here. */
class ConfigDocsSpec extends AnyFunSuite {
  test("CONFIG.md equals ConfigDocs.render()") {
    val committed = Files.readString(Paths.get("CONFIG.md"))
    assert(committed == ConfigDocs.render(),
      "CONFIG.md is stale: regenerate it with `sbt \"runMain graft.ConfigDocs\"`")
  }
}
