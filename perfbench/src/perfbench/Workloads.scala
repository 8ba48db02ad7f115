package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.mrcompat.MapReduceJob
import graft.operators.{Advanced, Graph, Multimodal, Relational, Similarity, TextPipeline}
import graft.streaming.DocDedup

/** What one op needs: the session, its inputs and a place to write. */
final class Ctx(val spark: SparkSession, val fixture: String, val work: String,
    val seed: Long, val args: Map[String, String], val expect: Map[String, Long]) {
  /** Values the checks saw, reported in the run record. */
  val observed = mutable.LinkedHashMap.empty[String, Any]
  /** Per-pass layer values that are not Spark counters (bytes on disk). */
  val extras = mutable.HashMap.empty[String, Double]
  /** Expected sorted output of each MapReduce app, from the sequential
    * oracle run once in the verification pass. */
  val mrExpected = mutable.HashMap.empty[String, Seq[String]]
  /** `dedupCorpus`'s survivors at the stream ops' hot-bucket cap, the
    * expected last snapshot of the `ingestEpoch` replay; computed once
    * in the verification pass. */
  var streamExpected: Set[Long] = Set.empty
  var pass = 0
  def passDir: String = s"$work/pass$pass"
  def dumpDir: String = s"$work/dump"

  /** Checks `value` against the expected value `key`, if one is given. */
  def expectEq(key: String, value: Long): Option[String] = {
    observed(key) = value
    expect.get(key).filter(_ != value).map(e => s"$key = $value, expected $e")
  }

  /** Runs every check (so each observed value is recorded) and joins
    * the errors. */
  def expectAll(checks: (() => Option[String])*): Option[String] = {
    val errs = checks.flatMap(_())
    if (errs.isEmpty) None else Some(errs.mkString("; "))
  }
}

/** One timed unit of work: `exec` materialises the result; `check`
  * verifies it and runs after the pass, outside the timed span. */
final case class Run(exec: () => Unit, check: () => Option[String])

abstract class Op(val name: String, val module: String) {
  /** Plans the op (a query builder may run eager jobs here). In the
    * verification pass (`verify`) the op also keeps what its check needs. */
  def build(ctx: Ctx, verify: Boolean): Run
}

/** A registry query: the builder, then the full plan through the `noop`
  * sink (as `graft.Bench` does). In the verification pass the result is
  * written as parquet instead, for the DuckDB oracle compare. */
final class QueryOp(q: QueryDef, module: String) extends Op(q.name, module) {
  def build(ctx: Ctx, verify: Boolean): Run = {
    val df = q.build(ctx.spark, ctx.fixture)
    if (verify)
      Run(() => df.write.mode("overwrite").parquet(s"${ctx.dumpDir}/${q.name}"), () => None)
    else
      Run(() => df.write.format("noop").mode("overwrite").save(), () => None)
  }
}

object Workloads {
  val registryModules: Seq[(String, Seq[QueryDef])] = Seq(
    "Relational" -> Relational.all, "TextPipeline" -> TextPipeline.all,
    "Similarity" -> Similarity.all, "Multimodal" -> Multimodal.all,
    "Advanced" -> Advanced.all, "Graph" -> Graph.all)

  def queryOps(names: Seq[String]): Seq[QueryOp] = {
    val byName = registryModules.flatMap { case (m, qs) => qs.map(q => q.name -> (q, m)) }.toMap
    names.map { n =>
      val (q, m) = byName.getOrElse(n, sys.error(s"unknown registry query: $n"))
      new QueryOp(q, m)
    }
  }

  /** The ops a workload's arguments ask for: the `--queries` registry
    * queries on the fixture, the lab's MapReduce apps on the `--corpus`
    * text files, and with `--dedup 1` the dedup pipelines on the fixture. */
  def ops(ctx: Ctx): Seq[Op] =
    queryOps(ctx.args.getOrElse("queries", "").split(",").toSeq.filter(_.nonEmpty)) ++
      (if (ctx.args.contains("corpus")) Trace.MrApps.map(new MrOp(_)) else Nil) ++
      (if (ctx.args.get("dedup").contains("1"))
        Seq(DedupCorpusOp, DedupEmbOp) ++ (0 until Epochs).map(new EpochOp(_))
      else Nil)

  // ---- dedup pipelines ---------------------------------------------

  val Epochs = 3

  def docs(ctx: Ctx): DataFrame =
    Tables.documents(ctx.spark, ctx.fixture).select("doc_id", "text")
  def emb(ctx: Ctx): DataFrame =
    Tables.embeddings(ctx.spark, ctx.fixture).select("vec_id", "embedding")

  /** The exact-family rule of `graft.DedupAudit`: no survivor may share a
    * byte-identical text with a smaller-id input document. */
  def docViolations(ctx: Ctx, survivors: DataFrame): Long = {
    val famMin = docs(ctx)
      .select(col("doc_id"), sha2(coalesce(col("text"), lit("")).cast("binary"), 256).as("th"))
      .withColumn("fam_min", min("doc_id").over(Window.partitionBy("th")))
    survivors.join(famMin, "doc_id").where(col("doc_id") =!= col("fam_min")).count()
  }

  /** The same rule for vectors; zero-norm vectors are exempt. */
  def vecViolations(ctx: Ctx, survivors: DataFrame): Long = {
    val nonZero = aggregate(col("embedding"), lit(0.0d),
      (a, x) => a + x.cast("double") * x.cast("double")) > 0.0d
    val famMin = emb(ctx).where(nonZero)
      .withColumn("fam_min", min("vec_id").over(Window.partitionBy("embedding")))
      .select("vec_id", "fam_min")
    survivors.join(famMin, "vec_id").where(col("vec_id") =!= col("fam_min")).count()
  }

  object DedupCorpusOp extends Op("dedupCorpus", "dedup") {
    def build(ctx: Ctx, verify: Boolean): Run = {
      val out = s"${ctx.passDir}/doc_survivors"
      val df = TextPipeline.dedupCorpus(docs(ctx), 0.8, "minhash-lsh", "first")
      Run(() => df.select("doc_id").write.parquet(out), () => {
        val surv = ctx.spark.read.parquet(out)
        ctx.expectAll(() => ctx.expectEq("dedup.doc_survivors", surv.count()),
          () => if (verify) ctx.expectEq("dedup.doc_family_violations", docViolations(ctx, surv))
            else None)
      })
    }
  }

  object DedupEmbOp extends Op("dedupEmbeddings", "dedup") {
    def build(ctx: Ctx, verify: Boolean): Run = {
      val out = s"${ctx.passDir}/vec_survivors"
      val df = Similarity.dedupEmbeddings(emb(ctx), 0.9, "lsh")
      Run(() => df.select("vec_id").write.parquet(out), () => {
        val surv = ctx.spark.read.parquet(out)
        ctx.expectAll(() => ctx.expectEq("dedup.vec_survivors", surv.count()),
          () => if (verify) ctx.expectEq("dedup.vec_family_violations", vecViolations(ctx, surv))
            else None)
      })
    }
  }

  /** The hot-bucket cap of the `ingestEpoch` replay: far above any
    * bucket of the fixtures, so no cap truncates pair enumeration. That
    * is the regime in which `DocDedup.survivorQuery` documents, and
    * StreamingSpec pins, exact parity with `dedupCorpus` at the same cap;
    * at a finite cap that truncates, both sides only approximate the
    * same relation and their survivors may differ. */
  val StreamMaxBucket = 100000

  /** One `DocDedup.ingestEpoch` call. The seed rotates which third of
    * the documents arrives in which epoch (three distinct replays, by
    * `seed mod 3`). After the last epoch the snapshot must hold exactly
    * `dedupCorpus`'s survivors at the same cap, and break no exact
    * family. */
  final class EpochOp(epoch: Int) extends Op(s"ingestEpoch.$epoch", "stream") {
    def build(ctx: Ctx, verify: Boolean): Run = {
      val state = s"${ctx.passDir}/stream_state"
      val out = s"${ctx.passDir}/stream_out"
      val batch = docs(ctx).where(pmod(hash(col("doc_id")) + lit(ctx.seed), lit(Epochs)) === epoch)
      Run(() => DocDedup.ingestEpoch(batch, 0.8, state, out, epoch.toLong, StreamMaxBucket), () => {
        if (epoch < Epochs - 1) None
        else {
          ctx.extras("stream.state_mb") = Files2.sizeMb(state)
          ctx.extras("stream.out_mb") = Files2.sizeMb(out)
          val surv = ctx.spark.read.parquet(s"$out/epoch=$epoch")
          if (verify)
            ctx.streamExpected = TextPipeline
              .dedupCorpus(docs(ctx), 0.8, "minhash-lsh", "first", StreamMaxBucket)
              .select("doc_id").collect().map(_.getLong(0)).toSet
          val got = surv.select("doc_id").collect().map(_.getLong(0)).toSet
          ctx.observed("stream.survivors") = got.size
          val parity =
            if (got == ctx.streamExpected) None
            else Some(s"stream.survivors: ${(got -- ctx.streamExpected).size} stream-only and " +
              s"${(ctx.streamExpected -- got).size} batch-only of ${ctx.streamExpected.size} " +
              "dedupCorpus survivors")
          ctx.expectAll(() => parity,
            () => if (verify) ctx.expectEq("stream.family_violations", docViolations(ctx, surv))
              else None)
        }
      })
    }
  }

  // ---- MapReduce veneer ---------------------------------------------

  val NReduce = 10

  /** `MapReduceJob.runToDir` for one of the lab's apps; its sorted output
    * lines must equal those of `MapReduceJob.sequential` (the lab's
    * test-mr.sh rule). */
  final class MrOp(app: String) extends Op(s"mr.$app", "mr") {
    def build(ctx: Ctx, verify: Boolean): Run = {
      val (mapF, reduceF) = app match {
        case "wc" => (MapReduceJob.wcMap, MapReduceJob.wcReduce)
        case "indexer" => (MapReduceJob.indexerMap, MapReduceJob.indexerReduce)
        case "grep" => (MapReduceJob.grepMap(ctx.args("grep")), MapReduceJob.grepReduce)
        case "sort" => (MapReduceJob.sortMap, MapReduceJob.sortReduce)
      }
      val input = ctx.args("corpus")
      val out = s"${ctx.passDir}/mr-$app"
      Run(() => MapReduceJob.runToDir(ctx.spark, input, mapF, reduceF, NReduce, out), () => {
        if (verify) {
          val files = ctx.spark.sparkContext.wholeTextFiles(input).collect().toSeq
          ctx.mrExpected(app) = MapReduceJob.sequential(files, mapF, reduceF)
            .map { case (k, v) => s"$k $v" }.sorted
        }
        val got = Files2.partLines(out).sorted
        val want = ctx.mrExpected(app)
        ctx.observed(s"mr.$app.lines") = got.size
        if (got == want) None
        else Some(s"mr.$app: ${got.size} output lines differ from the sequential " +
          s"oracle's ${want.size} (first diff: ${got.zipAll(want, "", "").find(p => p._1 != p._2)})")
      })
    }
  }
}

object Files2 {
  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  def sizeMb(dir: String): Double = walk(dir).map(Files.size).sum / 1048576.0

  def partLines(dir: String): Seq[String] =
    walk(dir).filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala)

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(x => Files.deleteIfExists(x))
      finally s.close()
    }
  }

  def mkdirs(dir: String): Unit = new File(dir).mkdirs()
}
