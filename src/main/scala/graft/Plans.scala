package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for every registered query, in registry
  * order, to PLANS.md — the committed evidence that plans are shaped for
  * scale (pushdown, pruning, broadcasts, partial aggregation,
  * TakeOrderedAndProject, codegen).
  * Run: `sbt "runMain graft.Plans /root/testdata/sf0.1 PLANS.md"`. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = Harness.session(8)
    val sb = new StringBuilder
    sb.append(s"# PLANS — formatted physical plans of all ${Queries.all.size} registered queries\n\n")
    sb.append(s"Generated by `graft.Plans` over `$sfDir`. What to look " +
      "for: `PushedFilters`/`ReadSchema` at scans, `BroadcastHashJoin` " +
      "for dims, `partial_*` map-side aggregation, " +
      "`TakeOrderedAndProject` for top-k, `WindowGroupLimit` for rank " +
      "windows, wide `WholeStageCodegen` spans.\n\n" +
      "These are the STATIC (pre-AQE) plans: identical exchange " +
      "subtrees printed twice (e.g. d13's two scan branches) are " +
      "deduplicated at runtime by AQE stage reuse — d13's executed " +
      "plan shows `ReusedQueryStage` with ONE parquet scan (the " +
      "count(when(__c > 0, 1)) keying in Dedup.dupSpans exists " +
      "precisely to keep those branches structurally identical).\n\n" +
      "Caveat: a plan dump is NOT computation-free for every query. " +
      "Builders that stage through an eager materialization run those " +
      "stages at CONSTRUCTION time — m19 writes its KMV store parquet, " +
      "d25 its substring seed store, " +
      "and m18/t18/q4/q6/q8 execute their localCheckpoint stage jobs — " +
      "so the printed plan for a composition is its FINAL stage reading " +
      "the materialized boundary (exactly what executes at run time; " +
      "the earlier stages' plans are audited via their standalone " +
      "queries). Expect this main to run minutes, not seconds.\n")
    // per-query dump mode (r22): an `out` ENDING IN "/" is a directory
    // receiving one <name><SPARK_GRAFT_PLANS_SUFFIX>.txt per query — the
    // plans/rNN/<query>_{before,after}.txt optimization-evidence files;
    // SPARK_GRAFT_ONLY picks the queries (Harness.selected)
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANS_SUFFIX", "")
    val selected = Harness.selected().toSet
    Queries.all.map(_.name).filter(selected).foreach { name =>
      // the runner releases the stage caches the eager builders make
      val plan = Harness.runQuery(spark, sfDir, name)(
        _.queryExecution.explainString(org.apache.spark.sql.execution
          .ExplainMode.fromString("formatted")))
      if (out.endsWith("/")) {
        Files.createDirectories(Paths.get(out))
        Files.writeString(Paths.get(s"$out$name$suffix.txt"), plan)
      } else sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    if (!out.endsWith("/")) {
      Files.writeString(Paths.get(out), sb.toString)
    }
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
