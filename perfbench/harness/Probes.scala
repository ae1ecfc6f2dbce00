package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, reverse}

import graft.core.MapReduce
import graft.functions.{BloomFunctions, TextFunctions, TextHash, VectorFunctions}
import graft.sources.Tables

/** Layer probes: timed calls into graft's public functions on fixed input
  * sizes, independent of the workload's query mix. Each returns its
  * metrics and the input sizes it used. */
object Probes {
  val Reps = 3
  val MrRows = 300000L
  val TextDocs = 500
  val TextCopies = 20
  val VectorRows = 500
  val VectorCopies = 40
  val BloomKeys = 100000L
  val BloomProbes = 2000000L
  val HashReps = 2

  private def seconds(body: => Any): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  /** Median time of `Reps` runs after one untimed run. */
  private def medianTime(body: => Any): Double = {
    body
    Stats.median((1 to Reps).map(_ => seconds(body)))
  }

  /** `core`: the reference max-squares-mod-9 job through `MapReduce.run`
    * (holistic reduce) and `runAssociative` (map-side combine), checked
    * against its closed form. */
  def core(spark: SparkSession): (Map[String, Double], Seq[String]) = {
    import spark.implicits._
    val ds = spark.range(MrRows).as[Long]
    val mapF = (x: Long) => Iterator.single((x % 9, x * x))
    val expected = (0L until 9L).map { r =>
      val x = MrRows - 1 - Math.floorMod(MrRows - 1 - r, 9L)
      (r, x * x)
    }
    def run() = MapReduce.run[Long, Long, Long, (Long, Long)](
      ds, mapF, (k: Long, vs: Iterator[Long]) => (k, vs.max)).collect().toSeq.sorted
    def assoc() = MapReduce.runAssociative[Long, Long, Long](
      ds, mapF, (a: Long, b: Long) => math.max(a, b)).collect().toSeq.sorted
    val errors = Seq("core.mr_run" -> run(), "core.mr_assoc" -> assoc())
      .collect { case (name, got) if got != expected => s"$name: wrong result $got" }
    (Map("core.mr_run_s" -> medianTime(run()), "core.mr_assoc_s" -> medianTime(assoc())),
      errors)
  }

  private def nsPerRow(df: DataFrame, rows: Long): Double =
    medianTime(df.write.format("noop").mode("overwrite").save()) * 1e9 / rows

  /** `functions`: graft's native expressions as a noop-format write of a
    * projection over cached inputs built from the workload's tables, and
    * `TextHash` called directly over the corpus's token lists. */
  def functions(spark: SparkSession, dir: String): Map[String, Double] = {
    TextFunctions.ensureShingles(spark)
    val docs = Tables.documents(spark, dir).orderBy("doc_id").limit(TextDocs).select("text")
    val text = docs.crossJoin(spark.range(TextCopies)).select("text").cache()
    val textRows = text.count()
    val vecs = Tables.embeddings(spark, dir).orderBy("vec_id").limit(VectorRows)
      .select(col("embedding").cast("array<double>").as("v"))
      .crossJoin(spark.range(VectorCopies))
      .select(col("v"), reverse(col("v")).as("w")).cache()
    val vecRows = vecs.count()
    val bloom = spark.range(BloomKeys).stat.bloomFilter("id", BloomKeys, 0.01)
    val probes = spark.range(BloomProbes).select((col("id") * 7).as("k"))
    val tokens = docs.collect().map(_.getString(0).split(" ").toSeq).toSeq
    val shingleSets = tokens.map(TextHash.shingles(_, 5))
    def hashNs(f: => Unit): Double = medianTime {
      (1 to HashReps).foreach(_ => f)
    } * 1e9 / (HashReps * tokens.size)
    val out = Map(
      "functions.graft_shingles.ns_per_row" ->
        nsPerRow(text.selectExpr("graft_shingles(text, 5)"), textRows),
      "functions.graft_nfc.ns_per_row" ->
        nsPerRow(text.select(TextFunctions.nfc(spark, "text")), textRows),
      "functions.graft_dot.ns_per_row" ->
        nsPerRow(vecs.select(VectorFunctions.dot(spark, "v", "w")), vecRows),
      "functions.graft_sql2.ns_per_row" ->
        nsPerRow(vecs.select(VectorFunctions.squaredL2(spark, "v", "w")), vecRows),
      "functions.graft_bloom_probe.ns_per_row" ->
        nsPerRow(probes.filter(BloomFunctions.mightContain(spark, bloom, "k")), BloomProbes),
      "functions.texthash_minhash.ns_per_row" ->
        hashNs(shingleSets.foreach(TextHash.minhash)),
      "functions.texthash_simhash.ns_per_row" ->
        hashNs(tokens.foreach(TextHash.simhash)))
    text.unpersist(true)
    vecs.unpersist(true)
    out
  }

  /** `sources`: `Tables.apply` for all ten tables on a directory the
    * session has never resolved (cold: schema inference) and again on one
    * it has (warm: relation-cache hit), summed over the tables. */
  def sources(spark: SparkSession, freshDirs: Seq[String]): Map[String, Double] = {
    def resolveAll(dir: String) = seconds(Tables.names.foreach(Tables(spark, dir, _)))
    val cold = freshDirs.map(resolveAll)
    val warm = (1 to Reps).map(_ => resolveAll(freshDirs.last))
    Map("sources.resolve_cold_ms" -> Stats.median(cold) * 1e3,
      "sources.resolve_warm_ms" -> Stats.median(warm) * 1e3)
  }

  def sizes: Map[String, Any] = Map(
    "core.rows" -> MrRows,
    "functions.text_rows" -> TextDocs * TextCopies,
    "functions.vector_rows" -> VectorRows * VectorCopies,
    "functions.bloom_keys" -> BloomKeys,
    "functions.bloom_probe_rows" -> BloomProbes,
    "functions.texthash_docs" -> TextDocs,
    "functions.texthash_reps" -> HashReps,
    "sources.tables" -> Tables.names.size,
    "reps" -> Reps)
}
