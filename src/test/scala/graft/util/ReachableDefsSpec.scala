package graft.util

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Without Spark: every non-private `def` in `src/main/scala` is named
  * by some other main-code site or by a `perfbench/scala` file, so
  * nothing survives that only specs reach. Comments are blanked first
  * ([[CacheSitesSpec.code]]): a name that appears only in a comment
  * reaches nothing. The exceptions are [[ReachableDefsSpec.allowed]],
  * each with its reason; an entry that is deleted or gains a caller
  * must leave the list too. */
object ReachableDefsSpec {
  private def tagged(names: Seq[String], reason: String) =
    names.map(_ -> reason)

  /** `File.def` -> why it stays although no main code names it. */
  val allowed: Map[String, String] = (
    tagged(Seq("SparkEntry.entry"),
      "the smoke entry point, called by name from outside the build") ++
    tagged(Seq("GraftExtensions.unapply"),
      "an extractor: pattern matches reach it, never its name") ++
    tagged(Seq("Dedup.shingleTableForTest", "Bridge.cachedEntries"),
      "test hook") ++
    tagged(Seq("Dedup.shinglesFromToksHof", "Dedup.signaturesFromAgg",
      "Dedup.simhash16Reference"),
      "reference formulation the specs compare the engine against") ++
    tagged(Seq("Readers.cocoCaptions"),
      "the one implementation of SURVEY §2 S4, a nested-JSON read") ++
    tagged(Seq("Streams.sessionize", "Streams.slidingCounts",
      "Streams.dedupStream", "Streams.decontaminateStream",
      "Streams.intervalJoinStream", "Streams.latestWinsStream",
      "Streams.funnelStages", "Streams.enrichStream",
      "Streams.backfillWindowed"),
      "spec-only: StreamsSpec is its one caller; deletion deferred") ++
    tagged(Seq("Dsir.bucketScores", "Dsir.scoreAgainst"),
      "spec-only: DsirSpec and StreamsSpec; deletion deferred") ++
    tagged(Seq("Sketches.cmsTopKApprox"),
      "spec-only: SketchesSpec; deletion deferred") ++
    tagged(Seq("Dedup.dropUrlDups"),
      "spec-only: DedupSpec; deletion deferred") ++
    tagged(Seq("Dedup.imageNearDupPairsFromBytes"),
      "spec-only: PerceptualHashSpec; deletion deferred") ++
    tagged(Seq("Dedup.dedupImageShardAgainst"),
      "spec-only: SignatureStoreSpec; deletion deferred") ++
    tagged(Seq("ImageOps.imageMeta", "ImageOps.transformColumn"),
      "spec-only: ImageOpsSpec; deletion deferred") ++
    tagged(Seq("MediaOps.mediaMeta"),
      "spec-only: MediaOpsSpec; deletion deferred") ++
    tagged(Seq("LinearClassifier.trainPerceptron"),
      "spec-only: LinearClassifierSpec; deletion deferred") ++
    tagged(Seq("Readers.binaryFiles"),
      "spec-only: ReadersSpec; deletion deferred") ++
    tagged(Seq("TextAnalysis.gopherDropLowQuality"),
      "spec-only: TextAnalysisSpec and StreamsSpec; deletion deferred") ++
    tagged(Seq("Bpe.segmentWords", "UnigramLm.segmentWords"),
      "spec-only: BpeSpec and UnigramLmSpec; deletion deferred")
  ).toMap

  private val Def =
    """(?m)^[ \t]*((?:[a-z]+(?:\[\w+\])?[ \t]+)*)def[ \t]+([A-Za-z_]\w*)""".r

  private def word(name: String) = s"(?<![\\w$$])${name}(?![\\w$$])".r

  /** `File.def` of every non-private, non-override def in `main` whose
    * name `main` and `others` together mention no more often than it
    * is declared. */
  def unreached(main: Seq[(String, String)], others: String): Seq[String] = {
    val all = main.map(_._2).mkString("\n") + "\n" + others
    main.flatMap { case (file, text) =>
      Def.findAllMatchIn(text).collect {
        case m if !m.group(1).split("\\s+").exists(mod =>
            mod == "private" || mod == "override") =>
          m.group(2)
      }.filter { name =>
        word(name).findAllMatchIn(all).size <=
          s"\\bdef[ \\t]+$name(?![\\w$$])".r.findAllMatchIn(all).size
      }.map(name => s"${file.stripSuffix(".scala")}.$name")
    }.distinct.sorted
  }

  private def perfbenchCode(): String = {
    def files(d: File): Seq[File] = Option(d.listFiles).toSeq.flatten
      .sortBy(_.getPath).flatMap { f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val root = new File("perfbench/scala")
    require(root.isDirectory, s"no $root")
    files(root).map(f => CacheSitesSpec.code(
      new String(Files.readAllBytes(f.toPath), "UTF-8"))).mkString("\n")
  }
}

class ReachableDefsSpec extends AnyFunSuite with Matchers {
  import ReachableDefsSpec._

  test("the scan: a def named only in a comment or by its own " +
    "declaration is unreached; private and override defs are skipped") {
    val main = Seq(
      "A.scala" -> CacheSitesSpec.code(
        "object A {\n  def used(x: Int) = x\n  def lonely = 1\n" +
          "  // calls lonely\n  private def hidden = 2\n" +
          "  private[a] def pkg = 3\n  override def toString = \"\"\n}"),
      "B.scala" -> "object B {\n  def b = A.used(1)\n}")
    unreached(main, "") shouldBe Seq("A.lonely", "A.pkg", "B.b")
    unreached(main, "B.b; A.pkg") shouldBe Seq("A.lonely")
  }

  test("every def in src/main/scala is reached from main code or " +
    "perfbench, or is allow-listed with a reason") {
    val main = CacheSitesSpec.mainCode().map { case (f, t) => f.getName -> t }
    val found = unreached(main, perfbenchCode())
    withClue("reached by no main code or perfbench file: ") {
      found.filterNot(allowed.contains) shouldBe empty
    }
    withClue("allow-listed but deleted or now reached: ") {
      allowed.keySet.diff(found.toSet).toSeq.sorted shouldBe empty
    }
  }
}
