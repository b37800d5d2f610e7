package graft

import java.nio.file.{Files, Paths}

import graft.sources.Indexes

/** Dev tool: dump `.explain("formatted")` for registry queries to
  * plans/<tag>/<qname>_<suffix>.txt — plan evidence for an optimization
  * claim. Mirrors the bench's serving setup (prebuilt index root
  * active) so the captured plan is the one the bench actually executes,
  * not the derived-mode plan the correctness gate runs.
  *
  * Usage: sbt "Test/runMain graft.PlanDumpMain <tag> <suffix> <substr> [substr ...]"
  *   tag     — output directory under plans/, e.g. "r16"
  *   suffix  — file suffix, e.g. "before" / "after"
  *   substr  — query-name substrings to select (e.g. q205 q110)
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1); the index
  * root must already exist (run graft.Bench once, or Indexes.build).
  */
object PlanDumpMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDumpMain <tag> <suffix> <substr...>")
    val tag = args(0)
    val suffix = args(1)
    val subs = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ixDir = sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
      s"/tmp/graft_index_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}")
    val spark = SparkTestBase.session
    require(new java.io.File(ixDir).exists, s"index root missing: $ixDir")
    Indexes.setRoot(Some(ixDir))
    val outDir = Paths.get("plans", tag)
    Files.createDirectories(outDir)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => subs.exists(n.contains))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), plan)
      graft.operators.Materialize.releaseAll()
      println(s"[plandump] wrote ${n}_$suffix.txt (${plan.length} chars)")
    }
    Indexes.setRoot(None)
    spark.stop()
  }
}
