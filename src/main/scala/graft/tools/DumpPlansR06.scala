package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Round-6 deliverable: writes plans/r06/<query>_<suffix>.txt with the
  * `.explain("formatted")` output for each named query, under the SAME
  * session shape the frozen bench uses (local[$SPARK_GRAFT_CPUS],
  * shuffle.partitions = cores, AQE on) at $SPARK_GRAFT_SF_DIR.
  *
  * Usage: sbt "runMain graft.tools.DumpPlansR06 before x13_jaccard_pairs,x41_winnow_containment"
  *
  * Queries that localCheckpoint their result eagerly would dump only a
  * checkpoint scan; for those the executed lazy pipeline is dumped where
  * a plan accessor exists (same convention as DumpPlans/PLANS.md).
  */
object DumpPlansR06 {
  def main(args: Array[String]): Unit = {
    val suffix = if (args.nonEmpty) args(0) else "before"
    val names: Seq[String] =
      if (args.length > 1 && args(1).nonEmpty) args(1).split(",").toSeq
      else Seq.empty
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("dump-plans-r06")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.LogQuiet.muteCheckpointReleaseWarns()
    val outDir = Paths.get("plans/r06")
    Files.createDirectories(outDir)
    import org.apache.spark.sql.functions._
    import graft.ops.TrainingOps
    def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // Eagerly-checkpointed results show only a checkpoint scan; for those
    // the executed LAZY pipeline is dumped too (returns (note, df, release)).
    def lazyPlanFor(n: String): Option[(String, org.apache.spark.sql.DataFrame, () => Unit)] = n match {
      case "x13_jaccard_pairs" =>
        val (df, caches) = TrainingOps.jaccardNearDupPairsPlan(docs)
        Some(("verified near-dup pairs pipeline", df, () => caches.foreach(_.unpersist())))
      case "x41_winnow_containment" =>
        val (df, caches) = TrainingOps.winnowContainmentPairsPlan(docs)
        Some(("containment pairs pipeline", df, () => caches.foreach(_.unpersist())))
      case "x48_repeated_spans" =>
        Some(("stage-1/2 duplicate-window selection (lazy)",
          TrainingOps.repeatedDupWindows(docs, 13), () => ()))
      case "x39_decontaminate_bloom" =>
        val (df, bGrams) = TrainingOps.decontaminateBloomPlan(docs,
          docs.filter(pmod(col("doc_id"), lit(97)) === 0))
        Some(("bloom-prefiltered decontamination pipeline", df, () => bGrams.unpersist()))
      case "x59_edit_neardup" =>
        val (df, caches) = TrainingOps.editNearDupPairsPlan(docs)
        Some(("edit near-dup pipeline", df, () => caches.foreach(_.unpersist())))
      case "x64_cross_neardup" =>
        val (df, caches) = TrainingOps.crossNearDupPlan(
          docs.filter(pmod(col("doc_id"), lit(13L)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(13L)) === 0))
        Some(("cross-corpus near-dup pipeline", df, () => caches.foreach(_.unpersist())))
      case "x14_dup_components" | "x37_dup_components_star" | "x49_canonical_docs" |
           "x91_leakage_split" | "x100_dedup_impact" |
           "x104_curate_corpus" | "x109_curation_funnel" =>
        // the loop's PER-ROUND contraction tree (the surface itself is a
        // driver loop over checkpoints; its own explain shows only the
        // final checkpoint scan) — one exchange per star step is the
        // round-6 claim this dump pins. Auto-broadcast is disabled for
        // the dump so the SHUFFLE-join tree (the 100 TB shape, where the
        // edge set exceeds any broadcast) is what lands on record; the
        // tiny seed would otherwise broadcast everything and hide the
        // exchange structure.
        val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        // the loop's real input boundary: a checkpointed edge scan
        val (edges, edgeIds) = TrainingOps.trackedCheckpoint(
          spark.range(0, 64).selectExpr("id AS u", "id + 1 AS v"))
        Some(("one large-star + small-star contraction round over the "
          + "checkpointed edge scan, shuffle-join shape",
          TrainingOps.starRoundPlan(edges),
          () => { TrainingOps.releaseRdds(edges, edgeIds)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh) }))
      case _ => None
    }
    for (n <- names) {
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val lazyPlan = lazyPlanFor(n).map { case (note, ldf, release) =>
          val p = try ldf.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          finally release()
          s"\n\n=== executed lazy pipeline ($note) ===\n\n$p"
        }.getOrElse("")
        Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), plan + lazyPlan)
        println(s"dumped $n -> plans/r06/${n}_$suffix.txt")
      } catch {
        case e: Throwable => System.err.println(s"[plans] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
