package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.WarehouseMeta
import graft.ops.{Dedup, Quality, Sampling, TextAnalysis}

/** `corpus_ingest`: the p01 curation pipeline over fresh shards. Each shard
  * is generated from the seed and the sf0.1 documents: new word bags with
  * the corpus's vocabulary and lengths, a seeded lang mix, planted exact
  * and near duplicates, and a few rows the gate must reject. One cycle per
  * shard:
  *   - write: land the shard as parquet;
  *   - analytic: gate → LSH candidates → dup clusters → dedup → temperature
  *     mix → bin packing, ending in a noop sink;
  *   - read (twice): a consumer's hash sample of one lang from the curated store;
  *   - maintain: curate the landed shard: its survivors move to the curated
  *     store and the landing copy is dropped.
  * No shard is used twice, so no op can be served from an earlier op's
  * work. */
final class CorpusWorkload(ctx: Ctx) extends Workload {
  import CorpusWorkload._

  private val spark = ctx.spark
  private val rng = ctx.rng
  private val shardDocs = if (ctx.smoke) 1000 else 6000
  private lazy val base: IndexedSeq[Array[String]] = {
    val sf = if (ctx.smoke) "sf0.001" else "sf0.1"
    spark.read.parquet(ctx.testdata.resolve(sf).resolve("documents.parquet").toString)
      .select("text").collect().map(_.getString(0).split(" ")).toIndexedSeq
  }

  private var rep = 0
  private var root: Path = _
  private var shardNo = 0
  private var phase = 0
  private var shard: Shard = _
  private var landed: Path = _
  private var curated: Path = _
  private var result: Pipeline = _
  private var survivors = Set.empty[Long]
  // survivor ids and langs in the curated store
  private val store = mutable.LinkedHashMap.empty[Long, String]
  private var docsIn = 0L
  private var analyticS = 0.0
  // traced
  private val stageMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val gatePass, pairsPerKdoc, pairYield = mutable.ArrayBuffer.empty[Double]

  /** A fresh shard: word bags resampled from corpus docs, ~4% planted
    * exact-duplicate groups, ~4% near-duplicate groups (one word appended),
    * ~2% rows whose n_chars disagrees with the text. */
  private def makeShard(size: Int): Shard = {
    shardNo += 1
    val langW = Langs.map(_ => math.pow(0.2 + rng.nextDouble(), 2))
    def lang(): String = {
      var x = rng.nextDouble() * langW.sum; var i = 0
      while (x > langW(i) && i < Langs.size - 1) { x -= langW(i); i += 1 }
      Langs(i)
    }
    val rows = mutable.ArrayBuffer.empty[Row]
    val exact, near = mutable.ArrayBuffer.empty[Seq[Long]]
    var id = shardNo * 10000000L
    def add(text: String, l: String): Long = {
      id += 1
      val n = if (rng.nextInt(50) == 0) text.length + 7 else text.length
      rows += Row(id, text, l, s"src${rng.nextInt(8)}", n.toLong)
      id
    }
    while (rows.size < size) {
      val words = base(rng.nextInt(base.size))
      val text = Seq.fill(words.length)(words(rng.nextInt(words.length))).mkString(" ")
      val l = lang()
      val first = add(text, l)
      rng.nextInt(25) match {
        case 0 => exact += (first +: (0 to rng.nextInt(2)).map(_ => add(text, l)))
        case 1 => near += (first +: (0 to rng.nextInt(2)).map(_ => add(text + " " + words(rng.nextInt(words.length)), l)))
        case _ => ()
      }
    }
    Shard(shardNo, rows.toIndexedSeq, exact.toSeq, near.toSeq)
  }

  def generate(): Unit = {
    rep += 1
    if (root != null) WarehouseMeta.deleteRecursively(root)
    root = ctx.workDir.resolve(s"corpus-$rep")
    curated = root.resolve("curated")
    store.clear(); phase = 0
    base
    shard = makeShard(shardDocs)
  }

  /** Warm-up: one shard, curated before the first read. */
  def prepare(): Unit = {
    Seq(() => landOp(), () => pipelineOp(), () => curateOp(), () => readOp())
      .foreach { op => val c = op().run(); if (!c()) ctx.fail("corpus warm-up check failed") }
  }

  // two shards per cycle
  def cycle: Int = 10
  def beginWindow(warm: Boolean): Unit = { docsIn = 0L; analyticS = 0.0 }

  def next(): Op = {
    phase += 1
    (phase - 1) % 5 match {
      case 0 => shard = makeShard(shardDocs); landOp()
      case 1 => pipelineOp()
      case 2 | 3 => readOp()
      case _ => curateOp()
    }
  }

  private def landOp(): Op = Op("write", "land", () => {
    landed = root.resolve(s"landing/shard-${shard.id}")
    spark.createDataFrame(shard.rows.asJava, Schema).write.parquet(landed.toString)
    () => ctx.expect(spark.read.parquet(landed.toString).count() == shard.rows.size, "landed shard row count")
  })

  private val expects = Seq(
    Quality.Expect("min_tokens", TextAnalysis.tokenCount(col("text")) >= 20),
    Quality.Expect("chars_max", col("n_chars") <= 520),
    Quality.Expect("chars_consistent", col("n_chars") === length(col("text"))))

  /** p01 over the landed shard. Traced: each stage prefix is materialized
    * to a noop sink and timed, so stage times are differences of prefixes. */
  private def pipelineOp(): Op = Op("analytic", "p01", () => {
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(landed.toString)
    def noop(name: String, df: DataFrame): Double =
      if (!ctx.tracer.enabled) 0.0
      else ctx.span("ops.pipeline." + name) {
        val t = System.nanoTime(); df.write.format("noop").mode("overwrite").save(); (System.nanoTime() - t) / 1e6
      }
    val gated = ctx.span("ops.quality.gate")(Quality.gate(docs, expects))
    val tGate = noop("gate", gated)
    val pairs = ctx.span("ops.dedup.lsh")(Dedup.lshCandidates(gated, "doc_id", "text"))
    val tLsh = noop("lsh", pairs)
    val tc = System.nanoTime()
    val clusters = ctx.span("ops.dedup.clusters")(Dedup.dupClusters(spark, pairs))
    val tClusters = (System.nanoTime() - tc) / 1e6
    val surv = ctx.span("ops.dedup.dedup")(Dedup.dedupByClusters(gated, "doc_id", clusters))
    val tDedup = noop("dedup", surv)
    val tm = System.nanoTime()
    val mixed = ctx.span("ops.sampling.mix")(Sampling.temperatureMix(surv, "lang", "doc_id",
      alpha = 0.5, targetRows = shard.rows.size * 4 / 25))
    val tMix = (System.nanoTime() - tm) / 1e6 + noop("mix", mixed)
    val packed = ctx.span("ops.textanalysis.pack")(TextAnalysis.packBins(
        mixed.withColumn("pack_id", col("doc_id") * 1024 + col("copy_idx")),
        "lang", "pack_id", "text", budget = 256)
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_tokens")).cast("long").as("bin_tokens")))
    ctx.span("spark.exec")(packed.write.format("noop").mode("overwrite").save())
    val wall = (System.nanoTime() - t0) / 1e9
    result = Pipeline(gated, pairs, clusters, surv, mixed, packed)
    if (ctx.tracer.enabled) {
      val tPack = ctx.tracer.durations("spark.exec").lastOption.getOrElse(0.0)
      Seq("gate" -> tGate, "lsh" -> (tLsh - tGate), "clusters" -> (tClusters - tLsh),
        "dedup" -> (tDedup - tGate), "mix" -> (tMix - tDedup), "pack" -> (tPack - tMix))
        .foreach { case (k, v) => stageMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
    }
    () => {
      docsIn += shard.rows.size; analyticS += wall
      checkPipeline()
    }
  })

  /** At most one survivor per planted exact-duplicate group; a near-duplicate
    * group may keep more only where LSH did not pair its members; the bins
    * hold exactly the tokens of the mixed docs. */
  private def checkPipeline(): Boolean = {
    val surv = result.surv.select("doc_id").collect().map(_.getLong(0)).toSet
    survivors = surv
    val cluster = result.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactOk = shard.exact.forall(g => g.count(surv) <= 1)
    val nearOk = shard.near.forall { g =>
      val kept = g.filter(surv)
      kept.size <= 1 || kept.map(u => cluster.getOrElse(u, u)).distinct.size == kept.size
    }
    val binTokens = result.packed.agg(sum("bin_tokens")).head().getLong(0)
    val mixedTokens = result.mixed.agg(sum(TextAnalysis.tokenCount(col("text")))).head().getLong(0)
    if (ctx.tracer.enabled) {
      val gated = result.gated.count().toDouble
      val pairs = result.pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val group = (shard.exact ++ shard.near).zipWithIndex.flatMap { case (g, i) => g.map(_ -> i) }.toMap
      gatePass += gated / shard.rows.size
      pairsPerKdoc += pairs.length / (shard.rows.size / 1000.0)
      pairYield += (if (pairs.isEmpty) 0.0
        else pairs.count { case (a, b) => group.get(a).exists(group.get(b).contains) }.toDouble / pairs.length)
    }
    ctx.expect(exactOk, s"shard ${shard.id}: an exact-duplicate group kept two copies") &&
      ctx.expect(nearOk, s"shard ${shard.id}: a near-duplicate group kept two paired copies") &&
      ctx.expect(binTokens == mixedTokens, s"shard ${shard.id}: bin tokens $binTokens != mixed tokens $mixedTokens")
  }

  /** Move the shard's survivors into the curated store and drop the landing copy. */
  private def curateOp(): Op = Op("maintain", "curate", () => {
    result.surv.write.mode("append").parquet(curated.toString)
    WarehouseMeta.deleteRecursively(landed)
    () => {
      survivors.foreach(i => store(i) = shard.lang(i))
      ctx.expect(spark.read.parquet(curated.toString).count() == store.size, "curated store row count")
    }
  })

  /** A consumer's 5% hash sample of one lang from the curated store. */
  private def readOp(): Op = {
    val lang = Langs(rng.nextInt(Langs.size))
    Op("read", "sample", () => {
      val got = Sampling.hashSample(spark.read.parquet(curated.toString), "doc_id", 0.05)
        .filter(col("lang") === lang).count()
      () => {
        val want = store.count { case (i, l) => l == lang && md5Prefix(i.toString) < (0.05 * 4294967296.0).toLong }
        ctx.expect(got == want, s"hash sample of $lang in the curated store: got $got want $want")
      }
    })
  }

  private def md5Prefix(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
  }


  def extras(w: Window): Map[String, Double] = {
    val plain = root.resolve("curated-plain")
    spark.read.parquet(curated.toString).coalesce(1).write.mode("overwrite").parquet(plain.toString)
    Map("docs_per_s" -> docsIn / analyticS,
      "space_amp" -> Disk.bytesUnder(curated).toDouble / Disk.bytesUnder(plain))
  }

  def layerMetrics(w: Window): Map[String, Double] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Main.median(xs)
    stageMs.map { case (k, v) => s"ops.pipeline.stage_ms.$k" -> med(v.toSeq) }.toMap ++ Map(
      "ops.quality.gate_pass_frac" -> med(gatePass.toSeq),
      "ops.dedup.lsh_pairs_per_kdoc" -> med(pairsPerKdoc.toSeq),
      "ops.dedup.pair_yield" -> med(pairYield.toSeq))
  }

}

object CorpusWorkload {
  final case class Shard(id: Int, rows: IndexedSeq[Row], exact: Seq[Seq[Long]], near: Seq[Seq[Long]]) {
    lazy val lang: Map[Long, String] = rows.map(r => r.getLong(0) -> r.getString(2)).toMap
  }
  final case class Pipeline(gated: DataFrame, pairs: DataFrame, clusters: DataFrame, surv: DataFrame,
      mixed: DataFrame, packed: DataFrame)

  val Langs = IndexedSeq("en", "de", "fr", "es", "zh")
  val Schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
}
