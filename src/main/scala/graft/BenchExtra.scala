package graft

/** Round-6 optimization harness (guide §1): isolate individual declared
  * queries — time each with the noop sink (same action Bench uses) over
  * several repeats, each through `SparkEntry.run`, and dump
  * `.explain("formatted")` for plan-shape evidence. The driver-facing
  * Bench is FROZEN; this main exists so per-query iteration does not
  * need the full extraction windows.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.BenchExtra [plans=<dir>] [reps=N] [q1 q2 ...]"
  * Queries run in name order; with no query args, all declared ones. A
  * failed query prints its error and the run goes on. With plans=<dir>, also
  * writes <dir>/<query>.txt containing the formatted plan and then the
  * FINAL (post-execution, AQE-resolved) plan with its reused and shuffle
  * query-stage counts: the pre-execution explain shows duplicated
  * subtrees that AQE's runtime stage cache may already dedup, so
  * optimization decisions must read the plan that actually ran.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val plansDir = args.collectFirst {
      case a if a.startsWith("plans=") => a.stripPrefix("plans=")
    }
    val reps = args.collectFirst {
      case a if a.startsWith("reps=") => a.stripPrefix("reps=").toInt
    }.getOrElse(3)
    val names = args.filterNot(a =>
      a.startsWith("plans=") || a.startsWith("reps="))
    val spark = Bench.makeSpark(cpus)
    val all = SparkEntry.queries
    val qs = (if (names.isEmpty) all.keys else names.toSeq)
      .toSeq.sorted.map(n => n -> all(n))
    plansDir.foreach(d => new java.io.File(d).mkdirs())
    val out = qs.flatMap { case (name, fn) =>
      val planned = plansDir.map(d =>
        SparkEntry.run(spark, sfDir, name, fn) { df =>
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          // run THIS QueryExecution so its adaptive plan reaches its final form
          df.collect()
          val fin = df.queryExecution.executedPlan.toString
          val reused = fin.linesIterator.count(_.contains("ReusedQueryStage"))
          val stages = fin.linesIterator.count(_.contains("ShuffleQueryStage"))
          val w = new java.io.PrintWriter(s"$d/$name.txt")
          try w.write(plan + "\n== Final Plan (post-execution) ==\n" +
            s"reusedStages=$reused shuffleStages=$stages\n" + fin)
          finally w.close()
        })
      val runs = if (planned.exists(_.isLeft)) planned.toSeq
        else (1 to reps).map(_ =>
          SparkEntry.run(spark, sfDir, name, fn)(Bench.forceAll))
      runs.collectFirst { case Left(e) => e } match {
        case Some(e) =>
          println(s"[bx] $name failed: $e")
          None
        case None =>
          val times = runs.flatMap(_.toOption)
          println(f"[bx] $name%-18s min=${times.min}%7.3f  all=" +
            times.map(t => f"$t%.3f").mkString(","))
          Some(name -> times.min)
      }
    }
    println("[bx-summary] total_min=" + f"${out.map(_._2).sum}%.3f")
    spark.stop()
  }
}
