package graft.enrich

import java.nio.file.Files

import graft.sources.Readers

/** Times the reference ETL's enrich step alone: `Readers.wikicaps` →
  * `CaptionStats.enrich` (POS and readability on, spacy) → noop sink, on
  * seeded WikiCaps-style captions generated in-process, at 1× (3000
  * captions, the ingest benchmark's size) and ×10. Run:
  *   sbt "Test/runMain graft.enrich.EnrichBench [cpus] [seed]"
  *
  * "cold" is the first pass at each size in this JVM (planning, codegen,
  * first-touch class loading); "warm" is the median of three passes
  * after it. The ×10 slope is warm(×10) / warm(1×): about 10 when the
  * per-caption work dominates, less while fixed per-job costs do. */
object EnrichBench {

  private val Vocab = ("spark window merge table column vector stream " +
    "value data small join filter big group hash customer sort order slow " +
    "line part fast row the agg key query a scan batch and of running " +
    "beautiful").split(" ")
  private val Names = Seq("Berlin", "Malham", "Wikipedia", "Schöneiche",
    "NASA")

  /** 1–5 capitalized sentences of 3–25 tokens, 30% with a proper noun. */
  def captions(n: Int, seed: Long): Seq[String] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      val sents = (0 until 1 + r.nextInt(5)).map { _ =>
        val ws = Seq.fill(3 + r.nextInt(23))(Vocab(r.nextInt(Vocab.length)))
        val s = if (r.nextDouble() < 0.3)
          ws.patch(r.nextInt(ws.size + 1), Seq(Names(r.nextInt(Names.size))), 0)
        else ws
        val text = s.mkString(" ")
        text.take(1).toUpperCase + text.drop(1) + "."
      }
      f"$i|||File:Image $i%06d – scan.png|||${sents.mkString(" ")}"
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = args.headOption.map(_.toInt).getOrElse(4)
    val seed = if (args.length > 1) args(1).toLong else 3002L
    val spark = graft.Harness.session(cpus)
    val dir = Files.createTempDirectory("enrich-bench")
    def pass(path: String): Double = {
      val t0 = System.nanoTime()
      CaptionStats.enrich(Readers.wikicaps(spark, path), "caption")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val warm = Seq(1, 10).map { scale =>
      val path = dir.resolve(s"captions-x$scale.txt")
      Files.writeString(path, captions(3000 * scale, seed).mkString("\n"))
      val cold = pass(path.toString)
      val w = Seq.fill(3)(pass(path.toString)).sorted.apply(1)
      println(f"enrich x$scale%-2d (${3000 * scale}%d captions, " +
        f"local[$cpus]): cold $cold%.3f s, warm $w%.3f s")
      w
    }
    println(f"x10 slope (warm): ${warm(1) / warm(0)}%.2f")
    spark.stop()
  }
}
