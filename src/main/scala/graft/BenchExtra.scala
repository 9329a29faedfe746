package graft

import org.apache.spark.sql.SparkSession

/** Extra benchmark / plan-capture main for optimization work (guide §1.4):
  * NOT part of the driver contract — `Bench` stays the frozen measurement
  * harness. This main exists so individual queries can be re-timed in
  * isolation (same session config as Bench) without paying the full suite +
  * scaling block, and so `.explain("formatted")` output can be captured for
  * the plans/ evidence files.
  *
  * Usage:
  *   sbt "runMain graft.BenchExtra q50_kcore q28_dedup_groups"   # time only these
  *   GRAFT_PASSES=3 sbt "runMain graft.BenchExtra kg_links"      # pass count
  *   GRAFT_PLANS_DIR=plans/r06 GRAFT_PLAN_SUFFIX=before \
  *     sbt "runMain graft.BenchExtra --plans q36_dup_spans ..."  # dump plans
  *
  * Timing methodology mirrors Bench exactly: same session builder, same
  * `fn(spark, sfDir).count()` action, min over passes (pass 1 doubles as
  * JIT warmup). Prints one JSON line of per-query minimums.
  */
object BenchExtra {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", 2 * cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val passes = sys.env.getOrElse("GRAFT_PASSES", "2").toInt
    val planMode = args.contains("--plans")
    val names = args.filterNot(_.startsWith("--")).toSeq
    val sel: String => Boolean =
      if (names.isEmpty) _ => true else names.toSet.contains _
    val spark = session(cpus)

    if (planMode) {
      val dir = sys.env.getOrElse("GRAFT_PLANS_DIR", "plans/r06")
      val suffix = sys.env.getOrElse("GRAFT_PLAN_SUFFIX", "before")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      SparkEntry.queries.toSeq.sortBy(_._1).filter(q => sel(q._1)).foreach {
        case (name, fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$dir/${name}_$suffix.txt"), plan)
            println(s"[plans] wrote $dir/${name}_$suffix.txt")
          } catch {
            case e: Throwable =>
              System.err.println(s"[plans] $name failed: ${e.getMessage}")
          }
      }
      spark.stop()
      return
    }

    def timeQueries(only: String => Boolean): Seq[(String, Option[Double])] =
      SparkEntry.queries.toSeq.sortBy(_._1).filter(q => only(q._1))
        .map { case (name, fn) =>
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              System.err.println(s"[benchx] $name failed: ${e.getMessage}")
              false }
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"[benchx] $name: $sec%.2f s")
          name -> (if (ok) Some(sec) else None)
        }
    val all = (1 to passes).map(_ => timeQueries(sel))
    val qnames = all.head.map(_._1)
    val mins = qnames.map { n =>
      val ts = all.flatMap(_.toMap.get(n).flatten)
      n -> (if (ts.nonEmpty) ts.min else -1.0)
    }
    val qs = mins.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"extra","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
