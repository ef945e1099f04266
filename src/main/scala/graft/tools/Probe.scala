package graft.tools

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import graft.{Posture, QuerySpec, Registry}

/** The engine's one probe tool: registry queries under the session
  * posture Bench and Verify run ([[graft.Posture]], stats-ON included),
  * so a probed plan or time is the benched one. Modes:
  *   - `time [queries] [reps]` — each query's setup once (timed), then per
  *     rep its construction (the `run` call, which may fire eager jobs) and
  *     execution (a noop write) seconds; persisted RDDs are reclaimed
  *     after every action, as in Bench (default 3 reps);
  *   - `setup [queries]` — only the one-time store builds (default: every
  *     benched query that has one), the fast loop for Bench's setup_total;
  *   - `audit [queries]` — physical-plan operator counts ([[opCounts]], the
  *     same counts PlanSpec's exec-audit pins assert on);
  *   - `dump [queries] [outDir] [suffix]` — `explain("formatted")` of each
  *     query, after its setup, to `outDir/<query>_<suffix>.txt` (the plan
  *     evidence committed under `plans/rNN/`; default `target/plans`,
  *     `plan`).
  * `queries` is a comma-separated list of registry names, or `all` (the
  * default). The scale-factor directory is `SPARK_GRAFT_SF_DIR`. A query
  * that fails prints its exception class and the first line of its
  * message, and the probe goes on to the next.
  *
  * Usage: tools/run_main.sh graft.tools.Probe <time|setup|audit|dump> [q1,q2,...] ...
  */
object Probe {

  private val audited = Seq(
    "scans" -> "Scan parquet", "exchanges" -> "Exchange hashpartitioning",
    "bcast" -> "BroadcastHashJoin", "smj" -> "SortMergeJoin",
    "cartesian" -> "CartesianProduct", "bnlj" -> "BroadcastNestedLoopJoin",
    "windows" -> "Window ", "takeOrdered" -> "TakeOrderedAndProject")

  /** Occurrences of each audited operator in a physical plan's string. */
  def opCounts(plan: String): Seq[(String, Int)] =
    audited.map { case (k, pat) => k -> pat.r.findAllIn(plan).size }

  private def seconds(t0: Long): String =
    f"${(System.nanoTime() - t0) / 1e9}%.2f s"

  private def usage(): Nothing = sys.error(
    "usage: graft.tools.Probe <time|setup|audit|dump> [q1,q2,...|all] ...")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse(usage())
    if (!Seq("time", "setup", "audit", "dump").contains(mode)) usage()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a scale-factor directory"))
    val specs: Seq[QuerySpec] = args.lift(1).filter(_ != "all") match {
      case Some(names) => names.split(",").toSeq.map(n =>
        Registry.all.find(_.name == n).getOrElse(sys.error(s"unknown query: $n")))
      case None if mode == "setup" =>
        Registry.all.filter(q => q.benchmark && q.setup.nonEmpty).sortBy(_.name)
      case None => Registry.all
    }
    val spark = Posture.session()
    val t0 = System.nanoTime()
    val stats = Posture.statsOn(spark, sfDir)
    println(s"[probe] stats $stats ${seconds(t0)} cpus ${Posture.cpus} " +
      s"codegen_cache ${Posture.codegenCache} sf $sfDir")
    val step: QuerySpec => Unit = mode match {
      case "time" => time(spark, sfDir, args.lift(2).fold(3)(_.toInt))
      case "setup" => q => q.setup.foreach { s =>
        val t0 = System.nanoTime()
        s(spark, sfDir)
        println(s"${q.name} setup ${seconds(t0)}")
      }
      case "audit" => q => {
        val plan = q.run(spark, sfDir).queryExecution.executedPlan.toString
        println(q.name + " " + opCounts(plan).map { case (k, n) => s"$k=$n" }
          .mkString(" "))
      }
      case "dump" => dump(spark, sfDir, args.lift(2).getOrElse("target/plans"),
        args.lift(3).getOrElse("plan"))
    }
    specs.foreach { q =>
      try step(q)
      catch { case NonFatal(e) =>
        val line = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
          .getOrElse("")
        println(s"${q.name} ERROR ${e.getClass.getName}: $line")
      } finally Posture.reclaim(spark)
    }
    spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String, reps: Int)(q: QuerySpec): Unit = {
    q.setup.foreach { s =>
      val t0 = System.nanoTime()
      s(spark, sfDir)
      Posture.reclaim(spark)
      println(s"${q.name} setup ${seconds(t0)}")
    }
    for (rep <- 1 to reps) {
      val t0 = System.nanoTime()
      val df = q.run(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val t2 = System.nanoTime()
      Posture.reclaim(spark)
      println(f"${q.name} rep $rep construct ${(t1 - t0) / 1e9}%.2f s " +
        f"execute ${(t2 - t1) / 1e9}%.2f s total ${(t2 - t0) / 1e9}%.2f s")
    }
  }

  private def dump(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String)(q: QuerySpec): Unit = {
    q.setup.foreach(_(spark, sfDir))
    val txt = q.run(spark, sfDir).queryExecution.explainString(FormattedMode)
    val out = java.nio.file.Paths.get(outDir, s"${q.name}_$suffix.txt")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, txt)
    println(s"${q.name} dumped $out")
  }
}
