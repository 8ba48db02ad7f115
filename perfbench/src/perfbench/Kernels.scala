package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.{VectorExpressions => VE}
import graft.operators.Checkpoints

/** Fixed-input microbenchmarks of single layers, run in traced runs:
  * rows/s of each public `graftvec` kernel wrapper (a `select` through
  * the `noop` sink over cached inputs built from a fixture's documents
  * and embeddings) and of `Checkpoints.cut` over a fixed frame. */
object Kernels {
  private val M = 8
  private val Ksub = 16

  private def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Median rows/s of `reps` runs after one untimed warm-up run. */
  private def rate(rows: Long, reps: Int, run: () => Double): Double = {
    run()
    rows / Stats.median((1 to reps).map(_ => run()))
  }

  def run(spark: SparkSession, fixture: String, copies: Int, reps: Int): Map[String, Double] = {
    val vecs = Tables.embeddings(spark, fixture)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("a"))
    val dim = vecs.select(size(col("a"))).head().getInt(0)
    val dsub = dim / M
    val rep = explode(sequence(lit(0), lit(copies - 1)))
    val v = vecs.select(col("vec_id"), col("a"), rep.as("c"))
      .withColumn("b", concat(slice(col("a"), 2, dim), slice(col("a"), 1, 1)))
      .withColumn("u", VE.normalizeVec(col("a")))
      .withColumn("lut", transform(sequence(lit(1), lit(M * Ksub)),
        i => element_at(col("a"), (i % dim) + 1)))
      .withColumn("codes", transform(sequence(lit(0), lit(M - 1)),
        i => pmod(hash(col("vec_id"), col("c"), i), lit(Ksub)).cast("tinyint")))
      .cache()
    val words = split(lower(col("text")), "[^a-z]+")
    val d = Tables.documents(spark, fixture).select(col("text"), rep.as("c"))
      .withColumn("sw", sort_array(array_distinct(filter(words, w => length(w) > 0))))
      .withColumn("sw2", filter(col("sw"), w => length(w) % 2 === 0))
      .withColumn("lw", sort_array(array_distinct(transform(col("sw"), w => xxhash64(w)))))
      .withColumn("lw2", filter(col("lw"), x => pmod(x, lit(2L)) === 0))
      .withColumn("s1", substring(col("text"), 1, 24))
      .withColumn("s2", substring(col("text"), 25, 24))
      .withColumn("name", substring(col("text"), 1, 10))
      .withColumn("letters", regexp_replace(lower(col("text")), "[^a-z]+", ""))
      .cache()
    val nv = v.count()
    val nd = d.count()
    val cb = Array.tabulate(M * Ksub * dsub)(i => math.sin(i * 0.37))
    val vk: Seq[(String, Column)] = Seq(
      "cosineSim" -> VE.cosineSim(col("a"), col("b")),
      "dotProduct" -> VE.dotProduct(col("a"), col("b")),
      "adcDistance" -> VE.adcDistance(col("lut"), col("codes"), Ksub),
      "normalizeVec" -> VE.normalizeVec(col("a")),
      "pqEncode" -> VE.pqEncode(col("u"), cb, M, Ksub, dsub),
      "hyperplaneSig" -> VE.hyperplaneSig(col("a"), 64, 42L))
    val dk: Seq[(String, Column)] = Seq(
      "bigramHashStats" -> VE.bigramHashStats(col("text")),
      "wordNgrams" -> VE.wordNgrams(col("text"), 3),
      "hasMinWords" -> VE.hasMinWords(col("text"), 50),
      "jaroWinkler" -> VE.jaroWinkler(col("s1"), col("s2")),
      "winnowFps" -> VE.winnowFps(col("letters"), 5, 4),
      "deletionHashes" -> VE.deletionHashes(col("name"), 2),
      "sortedIntersect" -> VE.sortedIntersect(col("lw"), col("lw2")),
      "sortedIntersectCount" -> VE.sortedIntersectCount(col("sw"), col("sw2")),
      "sortedIntersectCountLong" -> VE.sortedIntersectCountLong(col("lw"), col("lw2")),
      "entropySum" -> VE.entropySum(col("text")))
    val out = vk.map { case (n, c) => s"kernel.$n.rows_per_s" -> rate(nv, reps, () => timeNoop(v.select(c))) } ++
      dk.map { case (n, c) => s"kernel.$n.rows_per_s" -> rate(nd, reps, () => timeNoop(d.select(c))) }
    v.unpersist()
    d.unpersist()
    out.toMap
  }

  /** rows/s of `Checkpoints.cut` over a fixed 200 000-row frame. */
  def cutRate(spark: SparkSession, reps: Int): Double = {
    val frame = spark.range(0, 200000, 1, 4)
      .select(col("id"), (col("id") % 97).as("k"), sha1(col("id").cast("string")).as("h"))
    rate(200000L, reps, () => {
      val t0 = System.nanoTime()
      Checkpoints.cut(frame).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
  }

  val names: Seq[String] = Seq("cosineSim", "dotProduct", "adcDistance", "normalizeVec",
    "pqEncode", "hyperplaneSig", "bigramHashStats", "wordNgrams", "hasMinWords",
    "jaroWinkler", "winnowFps", "deletionHashes", "sortedIntersect",
    "sortedIntersectCount", "sortedIntersectCountLong", "entropySum")
}
