package graft

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TextPipeline

/** Crossover ladder for the two regimes of
  * [[TextPipeline.connectedComponents]]: the one-task union-find finish
  * against the pointer-jumping loop, on synthetic random and path graphs
  * of 10^`minExp` up to 10^`maxExp` edge rows (rows of the edge
  * checkpoint, both directions of every pair). The committed result,
  * CROSSOVER_r14_components.json, sets `TextPipeline.OneTaskMaxEdgeRows`.
  *
  * Per rung and graph it records:
  *  - `edges_s`: the shared edge checkpoint job;
  *  - `one_task_s` / `loop_s`: each regime over that checkpoint, with the
  *    Spark jobs each one ran;
  *  - `task_heap_mb`: peak heap of [[TextPipeline.unionFindLabels]] run
  *    alone on the same rows in this JVM, less the live heap before it;
  *  - `loop_converged`: whether the loop closed within its 50 rounds
  *    (null where it was not run);
  *  - `agree`: whether both regimes gave the same labels (null when the
  *    loop did not converge).
  *
  * Heap peaks are the JVM's pool peaks, so they include garbage not yet
  * collected; run with a small young generation to bound that:
  * {{{
  * sbt 'set Test / run / javaOptions += "-Xmn32m"' \
  *   "Test/runMain graft.ComponentsCrossover CROSSOVER_r14_components.json 3 7"
  * }}}
  * Runs on the test session (local[4, 2], 4 shuffle partitions, AQE on). */
object ComponentsCrossover {

  private def graph(kind: String, pairs: Long): DataFrame = {
    val r = TestSession.spark.range(pairs)
    kind match {
      // n = pairs nodes, endpoints uniform: average degree 2, a giant
      // component plus many small ones (self-loops and repeats included)
      case "random" =>
        r.select(pmod(xxhash64(col("id"), lit(1)), lit(pairs)).as("a"),
          pmod(xxhash64(col("id"), lit(2)), lit(pairs)).as("b"))
      // one path over pairs + 1 nodes in a seeded random id order:
      // diameter = pairs, the loop's worst case
      case "path" =>
        val byPos = Window.orderBy("pos")
        TestSession.spark.range(pairs + 1).select(col("id").as("pos"),
            (row_number().over(Window.orderBy(xxhash64(col("id"), lit(3)))) - 1).as("a"))
          .select(col("a"), lead(col("a"), 1).over(byPos).as("b"))
          .where(col("b").isNotNull)
    }
  }

  /** Pairs shaped like [[graph]]'s, as two arrays allocated before the
    * heap baseline is taken. */
  private def localPairs(kind: String, pairs: Int): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(7)
    kind match {
      case "random" =>
        (Array.fill(pairs)(rnd.nextLong(pairs.toLong)),
          Array.fill(pairs)(rnd.nextLong(pairs.toLong)))
      case "path" =>
        val perm = Array.range(0, pairs + 1).map(_.toLong)
        for (i <- perm.indices.reverse) {
          val j = rnd.nextInt(i + 1)
          val t = perm(i); perm(i) = perm(j); perm(j) = t
        }
        (perm.take(pairs), perm.drop(1))
    }
  }

  /** (result, seconds, peak heap bytes above the live heap at the start) */
  private def measured[T](f: => T): (T, Double, Long) = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    System.gc()
    val base = pools.map(_.getUsage.getUsed).sum
    pools.foreach(_.resetPeakUsage())
    val t0 = System.nanoTime()
    val out = f
    val s = (System.nanoTime() - t0) / 1e9
    (out, s, pools.map(_.getPeakUsage.getUsed).sum - base)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("CROSSOVER_r14_components.json")
    val minExp = if (args.length > 1) args(1).toInt else 3
    val maxExp = if (args.length > 2) args(2).toInt else 6
    val spark = TestSession.spark
    val jobs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    def jobsOf[T](f: => T): (T, Long) = {
      val j0 = jobs.get
      val r = f
      Thread.sleep(500) // the listener bus is asynchronous
      (r, jobs.get - j0)
    }
    // warm the JIT and the planner on a small graph first
    TextPipeline.connectedComponents(graph("random", 1000)).count()
    val rungs = for (exp <- minExp to maxExp; kind <- Seq("random", "path")) yield {
      val pairs = math.pow(10, exp).toLong / 2
      val g = graph(kind, pairs)
      val (((edges, rows), edgesS, _), _) = jobsOf(measured(TextPipeline.componentEdges(g)))
      val ((one, oneS, _), oneJobs) = jobsOf(measured(TextPipeline.componentsInOneTask(edges)))
      // the loop may exceed its round cap: that is a result, not an error.
      // It is not run on paths above 10^6 rows: it closed none up to there,
      // and 50 rounds at 10^7 rows would take about 20 minutes.
      val runLoop = kind != "path" || exp <= 6
      val ((loop, loopS, _), loopJobs) = jobsOf(measured(
        if (runLoop) scala.util.Try(TextPipeline.componentsByPointerJumping(edges)).toOption
        else None))
      val agree = loop.map { l =>
        one.count() == l.count() &&
          one.join(l.withColumnRenamed("rep", "rep2"), "id")
            .where(col("rep") =!= col("rep2")).isEmpty
      }
      // the task alone, on a graph of the same kind and row count
      // generated in-process, so no collected rows sit on the heap
      val (as, bs) = localPairs(kind, pairs.toInt)
      val (labels, taskS, taskHeap) = measured(TextPipeline.unionFindLabels(
        as.indices.iterator.flatMap(i => Iterator((as(i), bs(i)), (bs(i), as(i))))).length)
      val converged = if (runLoop) loop.isDefined.toString else "null"
      val line =
        f"""{"graph": "$kind", "edge_rows": $rows, "nodes": $labels, """ +
          f""""edges_s": $edgesS%.3f, "one_task_s": $oneS%.3f, """ +
          f""""one_task_jobs": $oneJobs, "loop_s": $loopS%.3f, """ +
          f""""loop_jobs": $loopJobs, "loop_converged": $converged, """ +
          f""""task_s": $taskS%.3f, "task_heap_mb": ${taskHeap / 1048576.0}%.1f, """ +
          f""""task_heap_bytes_per_row": ${taskHeap.toDouble / rows}%.1f, """ +
          s""""agree": ${agree.map(_.toString).getOrElse("null")}}"""
      System.err.println(line)
      line
    }
    val json = rungs.mkString("{\"rungs\": [\n  ", ",\n  ", "\n]}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
  }
}
