package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** CONFIG.md is generated: a conf registered in GraftConf, or a harness
  * variable added or removed, without a regeneration fails here. */
class ConfigDocsSpec extends AnyFunSuite {
  test("CONFIG.md equals ConfigDocs.render()") {
    val committed = Files.readString(Paths.get("CONFIG.md"))
    assert(committed == ConfigDocs.render(),
      "CONFIG.md is stale: regenerate it with `sbt \"runMain graft.ConfigDocs\"`")
  }

  /** the variables `sys.env` reads by literal name in `files` */
  private def envReads(files: Seq[Path]): Set[String] = {
    val read = """sys\.env(?:\.\w+)?\(\s*"([A-Za-z_0-9]+)"""".r
    files.flatMap(f => read.findAllMatchIn(Files.readString(f)).map(_.group(1))).toSet
  }

  test("the env table documents every variable the mains read, and only those") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val inSources = envReads(sources)
    val envTable = ConfigDocs.render().linesIterator
      .dropWhile(!_.startsWith("Harness environment variables")).takeWhile(!_.startsWith("#"))
    val documented = envTable.collect { case l if l.startsWith("| `") => l.split('`')(1) }.toSet
    assert(inSources.nonEmpty && (inSources -- documented).isEmpty,
      s"read but undocumented: ${(inSources -- documented).toSeq.sorted}")
    // the JVM heap variable is read by the build
    val unread = documented -- inSources -- envReads(Seq(Paths.get("build.sbt")))
    assert(unread.isEmpty, s"documented but read nowhere: ${unread.toSeq.sorted}")
  }
}
