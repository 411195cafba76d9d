package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The README's `## Settings` table is the complete list of session confs
  * the engine reads: every `spark.graft.*` key named under `src/main/scala`
  * has a row, and every row names a key the code still reads. A new knob or
  * a stale row fails here.
  */
class SettingsInventorySpec extends AnyFunSuite {
  private val key = """spark\.graft\.[a-zA-Z.]+[a-zA-Z]""".r

  test("README settings table equals the keys named in src/main/scala") {
    val sources: Seq[Path] = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val inCode = sources.flatMap(p => key.findAllIn(Files.readString(p))).toSet
    val readme = Files.readAllLines(Paths.get("README.md")).asScala
    val section = readme.dropWhile(_ != "## Settings").drop(1).takeWhile(!_.startsWith("## "))
    val rows = section.filter(_.startsWith("| `spark.graft."))
    val inTable = rows.map(r => key.findFirstIn(r.split('|')(1)).get).toSet
    assert(rows.size == inTable.size, "duplicate rows in the README settings table")
    assert(inCode -- inTable == Set.empty, "settings missing from README.md ## Settings")
    assert(inTable -- inCode == Set.empty, "README.md ## Settings rows no code reads")
  }
}
