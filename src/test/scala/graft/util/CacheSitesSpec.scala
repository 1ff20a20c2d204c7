package graft.util

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Without Spark: [[CacheScope]] is the one module of the engine that
  * names a storage level or persists or releases a cache, so every
  * cache has one of its two lifetimes. Comments do not count. */
class CacheSitesSpec extends AnyFunSuite with Matchers {
  private val patterns = Seq("StorageLevel", ".persist(", ".cache()",
    "unpersist(")

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.sortBy(_.getPath).flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** `src` with `//` and `/* */` comments blanked; string and character
    * literals are kept, so `"s3://"` does not start a comment. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        while (i < src.length && (depth > 0 || at("/*"))) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (src(i) == '"') {
        out += '"'; i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\') { out += src(i); i += 1 }
          if (i < src.length) { out += src(i); i += 1 }
        }
        if (i < src.length && src(i) == '"') { out += '"'; i += 1 }
      } else if (at("'\"'")) {
        out ++= "'\"'"; i += 3
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  test("comment stripping keeps code and string literals") {
    code("a.persist(x) // b.unpersist(\n/* c.cache() /* d */ e */f\n") shouldBe
      "a.persist(x) \nf\n"
    code("val u = \"s3://b\"; x.cache()") shouldBe "val u = \"s3://b\"; x.cache()"
  }

  test("outside CacheScope.scala, src/main names no storage level and " +
    "persists or releases no cache") {
    val root = new File("src/main/scala")
    root.isDirectory shouldBe true
    val hits = sources(root).map { f =>
      val text = code(new String(Files.readAllBytes(f.toPath), "UTF-8"))
      f.getName -> patterns.filter(text.contains)
    }.filter(_._2.nonEmpty)
    hits.map(_._1) shouldBe Seq("CacheScope.scala")
  }
}
