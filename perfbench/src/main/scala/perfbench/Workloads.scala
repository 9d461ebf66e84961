package perfbench

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Vicinity
import graft.core.Backend
import graft.prep.{Dedup, TextFunctions}

/** A named workload: seeded inputs, a set-up step, and a cycle of calls
  * the harness repeats until the measuring window closes. */
trait Workload {
  /** the workload's names for the primary and secondary operation slots */
  def primaryOp: String
  def secondaryOp: String
  def inputs: Map[String, Any]
  def digest: String
  /** one cold set-up; called several times, the last one is kept */
  def setup(): Unit
  /** untimed calls that fill caches and compile code before the window */
  def warmup(h: Harness): Unit
  /** one cycle of calls; each call is made only while `h.now < deadline` */
  def cycle(h: Harness, deadline: Double): Unit
  /** how many calls of each slot one cycle makes */
  def callsPerCycle: Map[String, Int]
  /** untimed work right after the window, such as a recall measurement */
  def finish(h: Harness): Unit = ()
  /** the workload's result quality, in [0, 1], and its name in the report */
  def recall: Double
  def recallName: String
  /** untimed work after the window that only the traced run does; returns
    * per-layer metrics */
  def tracedExtras(h: Harness): Map[String, Metric] = Map.empty
  /** drops the workload's cached frames */
  def close(): Unit
}

final case class Metric(value: Double, unit: String)

object Workloads {
  val names: Seq[String] = Seq("serve-graph", "scan-exact", "dedup-batch")

  def apply(name: String, spark: SparkSession, seed: Long, work: String): Workload =
    name match {
      case "serve-graph" => new ServeGraph(spark, seed, work)
      case "scan-exact" => new ScanExact(spark, seed)
      case "dedup-batch" => new DedupBatch(spark, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: ${names.mkString(", ")})")
    }

  val K = 10
  val Tol = 1e-9

  def queriesDf(spark: SparkSession, vs: Seq[Array[Double]]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(vs.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, ArraySeq.unsafeWrapArray(v)) }: _*),
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("qvector", ArrayType(DoubleType, containsNull = false),
          nullable = false))))

  def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** cosine distance between unit vectors, clipped at 0 like the engine */
  def cosDist(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); i += 1 }
    math.max(0.0, 1.0 - dot)
  }

  /** driver brute force: the k nearest (id, dist) by (dist, id) */
  def bruteTopK(store: Array[Array[Double]], ids: Array[Long],
      q: Array[Double], k: Int): Seq[(Long, Double)] =
    store.indices.map(i => (ids(i), cosDist(store(i), q)))
      .sortBy { case (id, d) => (d, id) }.take(k)

  /** result rows (query_id, id, dist) grouped per query, in rank order */
  def byQuery(rows: Array[Row], withRank: Boolean): Map[Long, Seq[(Long, Double)]] =
    rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      val ordered = if (withRank) rs.sortBy(_.getAs[Int]("rank")) else
        rs.sortBy(r => (r.getAs[Double]("dist"), r.getAs[Long]("id")))
      q -> ordered.map(r => (r.getAs[Long]("id"), r.getAs[Double]("dist"))).toSeq
    }

  /** k rows per query, in (dist, id) order */
  def checkTopK(res: Map[Long, Seq[(Long, Double)]], nQueries: Int,
      k: Int): Option[String] = {
    if (res.size != nQueries) return Some(s"expected $nQueries queries, got ${res.size}")
    res.collectFirst {
      case (q, rs) if rs.size != k => s"query $q returned ${rs.size} rows, not $k"
      case (q, rs) if rs.zip(rs.drop(1)).exists { case ((i1, d1), (i2, d2)) =>
          d1 > d2 || (d1 == d2 && i1 >= i2) } => s"query $q not in (dist, id) order"
    }
  }

  /** union-find over an edge list: node -> smallest id of its component */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for ((a, b) <- edges) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** two ranked lists agree when each position has the same id, or the
    * same distance (a tie the two sides may break differently) */
  def sameRanking(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean =
    a.size == b.size && a.zip(b).forall { case ((ia, da), (ib, db)) =>
      math.abs(da - db) <= Tol && (ia == ib || a.exists(_._1 == ib)) }
}

import Workloads._

/** Read-only serving from one HNSW index: in-memory top-k of one query
  * (a driver-side walk) and disk top-k of eight (a Spark job per hop). */
final class ServeGraph(spark: SparkSession, seed: Long, work: String) extends Workload {
  val primaryOp = "knn_disk"
  val secondaryOp = "knn"
  private val spec = Gen.VectorSpec(n = 5000, dim = 64, clusters = 16,
    spread = 1.0, queries = 128, extra = 16)
  private val data = Gen.vectors(spec, seed)
  def inputs: Map[String, Any] = spec.describe
  def digest: String = data.digest
  private val items = data.store.indices.map(i => s"v$i")
  private val vectors = data.store.toSeq.map(ArraySeq.unsafeWrapArray(_))
  private val unitStore = data.store.map(normalize)
  private val ids = Array.tabulate(spec.n)(_.toLong)
  private val unitQueries = data.queries.map(normalize)
  private val truth = unitQueries.map(q => bruteTopK(unitStore, ids, q, K).map(_._1).toSet)

  private var vic: Vicinity = _
  private var path: String = _
  private var reps = 0

  def setup(): Unit = {
    spark.catalog.clearCache()
    path = s"$work/layout-$reps"; reps += 1
    vic = Vicinity.fromVectorsAndItems(spark, items, vectors, Backend.Hnsw)
    vic.writeServingIndex(path)
  }

  private var nextQuery = 0
  private def take(n: Int): Seq[Int] = {
    val idx = (0 until n).map(i => (nextQuery + i) % spec.queries)
    nextQuery = (nextQuery + n) % spec.queries
    idx
  }
  private var recall0 = 0.0

  private def diskKnn(h: Harness, qs: Seq[Int]): Unit = {
    val qdf = queriesDf(spark, qs.map(data.queries))
    h.op("primary", qs.size)(vic.queryFromDiskDf(path, qdf, K))(_.collect())(_.length.toLong) { rows =>
      val disk = byQuery(rows, withRank = true)
      checkTopK(disk, qs.size, K).orElse {
        val mem = byQuery(vic.queryDf(qdf, K).collect(), withRank = true)
        disk.collectFirst { case (q, rs) if !sameRanking(rs, mem.getOrElse(q, Nil)) =>
          s"disk top-k differs from in-memory top-k for query $q" }
      }
    }
  }

  private def memKnn(h: Harness, q: Int): Unit = {
    val qdf = queriesDf(spark, Seq(data.queries(q)))
    h.op("secondary", 1)(vic.queryDf(qdf, K))(_.collect())(_.length.toLong) { rows =>
      val res = byQuery(rows, withRank = true)
      checkTopK(res, 1, K).orElse {
        res(0L).collectFirst { case (id, d)
          if id < 0 || id >= spec.n || math.abs(cosDist(unitStore(id.toInt), unitQueries(q)) - d) > 1e-6 =>
          s"in-memory top-k returned id $id at a wrong distance" }
      }
    }
  }

  /** Four cycles. Each disk walk is faster than the one before through the
    * first several (JIT); after three walks and six in-memory ones, the
    * first timed calls were still the slowest. */
  def warmup(h: Harness): Unit = (0 until 4).foreach(_ => cycle(h, Double.MaxValue))

  def cycle(h: Harness, deadline: Double): Unit = {
    if (h.now < deadline) diskKnn(h, take(8))
    (0 until callsPerCycle("secondary")).foreach { _ =>
      if (h.now < deadline) memKnn(h, take(1).head) }
  }
  val callsPerCycle: Map[String, Int] = Map("primary" -> 1, "secondary" -> 6)

  /** recall@10 of the in-memory top-k over the whole query pool, against
    * driver brute force */
  override def finish(h: Harness): Unit = {
    val res = byQuery(vic.queryDf(queriesDf(spark, data.queries.toSeq), K).collect(),
      withRank = true)
    val hits = data.queries.indices.map(q =>
      res.getOrElse(q.toLong, Nil).count(x => truth(q).contains(x._1))).sum
    recall0 = hits.toDouble / (spec.queries * K)
  }

  def recall: Double = recall0
  val recallName = "recall_at_10"

  /** The maintenance cycle the traced run adds after the window, against
    * the same layout: insert, read, delete, read, compact, read. It yields
    * the core layer's layout figures and checks every read, including that
    * no deleted id is ever returned. */
  override def tracedExtras(h: Harness): Map[String, Metric] = {
    val before = Layout.list(path)
    val extra = data.extra.take(8)
    val userBytes = extra.map(_.length * 8L).sum + extra.indices.map(i => s"x$i".length.toLong).sum
    val insMs = h.timedMs {
      vic = vic.insertIntoServing(path, extra.indices.map(i => s"x$i"),
        extra.toSeq.map(ArraySeq.unsafeWrapArray(_)))
    }
    val afterIns = Layout.list(path)
    val generations = vic.describeServing(path).getOrElse("generations", "0").toDouble
    h.verify("top-k after insert returns k rows per query in (dist, id) order") {
      val res = byQuery(vic.queryFromDiskDf(path, queriesDf(spark, extra.toSeq), K).collect(),
        withRank = true)
      checkTopK(res, extra.length, K).isEmpty
    }
    val deleted = (0L until 8L).map(_ * 97L % spec.n)
    val delRows = spark.createDataFrame(
      java.util.Arrays.asList(deleted.map(Row(_)): _*),
      StructType(Seq(StructField("id", LongType, nullable = false))))
    var removed = -1L
    val delMs = h.timedMs { removed = vic.deleteFromDisk(path, delRows) }
    h.verify("deleteFromDisk removed the 8 rows asked for")(removed == deleted.size)
    val tombstones = vic.describeServing(path).getOrElse("tombstone_generations", "0").toDouble
    // querying with the deleted rows' own vectors: each would be its own
    // nearest neighbour if it were still served
    val probe = queriesDf(spark, deleted.map(i => data.store(i.toInt)))
    def noDeleted(tag: String): Unit = h.verify(s"no deleted id returned $tag") {
      val rows = vic.queryFromDiskDf(path, probe, K).collect()
      rows.length == deleted.size * K &&
        !rows.exists(r => deleted.contains(r.getAs[Long]("id")))
    }
    noDeleted("after delete")
    val beforeCompact = Layout.list(path)
    val compactMs = h.timedMs(vic.compactServing(path))
    val afterCompact = Layout.list(path)
    noDeleted("after compaction")
    // recall over the live set after compaction
    val liveIds = (ids ++ Array.tabulate(extra.length)(i => spec.n.toLong + i))
      .filterNot(deleted.contains)
    val liveVecs = liveIds.map(i => if (i < spec.n) unitStore(i.toInt) else normalize(extra((i - spec.n).toInt)))
    val qs = (0 until 8)
    val got = byQuery(vic.queryFromDiskDf(path, queriesDf(spark, qs.map(data.queries)), K).collect(), withRank = true)
    val liveHits = qs.map { q =>
      val t = bruteTopK(liveVecs, liveIds, unitQueries(q), K).map(_._1).toSet
      got.getOrElse(q.toLong, Nil).count(x => t.contains(x._1))
    }.sum
    Map(
      "core.layout_files" -> Metric(before.files.toDouble, "count"),
      "core.layout_bytes" -> Metric(before.bytes.toDouble, "B"),
      "core.generations" -> Metric(generations, "count"),
      "core.write_amp" -> Metric((afterIns.bytes - before.bytes).toDouble / userBytes, "ratio"),
      "core.bytes_rewritten_per_compact" -> Metric(afterCompact.newSince(beforeCompact).toDouble, "B"),
      "maint.insert_ms" -> Metric(insMs, "ms"),
      "maint.delete_ms" -> Metric(delMs, "ms"),
      "maint.compact_s" -> Metric(compactMs / 1000, "s"),
      "maint.recall_at_10" -> Metric(liveHits.toDouble / (qs.size * K), "ratio"),
      "maint.tombstone_generations" -> Metric(tombstones, "count"))
  }

  def close(): Unit = spark.catalog.clearCache()
}

/** Batch analytics on the exact (BASIC) index: top-k and radius over a
  * query batch, a full distance scan each. */
final class ScanExact(spark: SparkSession, seed: Long) extends Workload {
  val primaryOp = "knn_batch"
  val secondaryOp = "radius_batch"
  private val spec = Gen.VectorSpec(n = 100000, dim = 64, clusters = 16,
    spread = 1.0, queries = 256)
  val batch = 64
  val radius = 0.06
  val maxK = 100
  private val data = Gen.vectors(spec, seed)
  def inputs: Map[String, Any] = spec.describe ++ Map("batch" -> batch,
    "radius" -> radius, "max_k" -> maxK)
  def digest: String = data.digest
  private val items = data.store.indices.map(i => s"v$i")
  private val vectors = data.store.toSeq.map(ArraySeq.unsafeWrapArray(_))
  private val unitStore = data.store.map(normalize)
  private val ids = Array.tabulate(spec.n)(_.toLong)
  private val unitQueries = data.queries.map(normalize)
  private val rnd = new java.util.SplittableRandom(seed ^ 0x5CA7L)
  private var vic: Vicinity = _

  def setup(): Unit = {
    spark.catalog.clearCache()
    vic = Vicinity.fromVectorsAndItems(spark, items, vectors, Backend.Basic)
  }

  private var nextQuery = 0
  private def take(): Seq[Int] = {
    val idx = (0 until batch).map(i => (nextQuery + i) % spec.queries)
    nextQuery = (nextQuery + batch) % spec.queries
    idx
  }
  private var sampled = 0
  private var matched = 0

  /** two seeded queries of the batch, checked against driver brute force */
  private def sample(qs: Seq[Int]): Seq[Int] = Seq.fill(2)(rnd.nextInt(qs.size))

  private def knn(h: Harness, qs: Seq[Int]): Unit = {
    val qdf = queriesDf(spark, qs.map(data.queries))
    h.op("primary", qs.size)(vic.queryDf(qdf, K))(_.collect())(_.length.toLong) { rows =>
      val res = byQuery(rows, withRank = true)
      checkTopK(res, qs.size, K).orElse {
        val bad = sample(qs).filterNot { local =>
          sameRanking(res(local.toLong), bruteTopK(unitStore, ids, unitQueries(qs(local)), K))
        }
        if (h.recordingNow) { sampled += 2; matched += 2 - bad.size }
        bad.headOption.map(q => s"exact top-k differs from brute force for query $q")
      }
    }
  }

  private def radiusQuery(h: Harness, qs: Seq[Int]): Unit = {
    val qdf = queriesDf(spark, qs.map(data.queries))
    h.op("secondary", qs.size)(vic.queryThresholdDf(qdf, radius, maxK))(_.collect())(_.length.toLong) { rows =>
      val res = byQuery(rows, withRank = false)
      // BASIC's radius search is inclusive and uncapped (the reference's
      // basic backend), so every row within the radius is expected
      res.collectFirst {
        case (q, rs) if rs.exists(_._2 > radius + Tol) =>
          s"radius query $q returned rows beyond the radius"
      }.orElse {
        val bad = sample(qs).filterNot { local =>
          val q = unitQueries(qs(local))
          val want = unitStore.indices.map(i => (ids(i), cosDist(unitStore(i), q)))
          val got = res.getOrElse(local.toLong, Nil).map(_._1).toSet
          // ids within rounding of the radius may fall on either side
          val sure = want.filter(_._2 < radius - Tol).map(_._1).toSet
          val maybe = want.filter(_._2 <= radius + Tol).map(_._1).toSet
          sure.subsetOf(got) && got.subsetOf(maybe)
        }
        if (h.recordingNow) { sampled += 2; matched += 2 - bad.size }
        bad.headOption.map(q => s"radius result differs from brute force for query $q")
      }
    }
  }

  /** four cycles: the calls keep speeding up (JIT) through the first few */
  def warmup(h: Harness): Unit = (0 until 4).foreach(_ => cycle(h, Double.MaxValue))

  def cycle(h: Harness, deadline: Double): Unit = {
    if (h.now < deadline) knn(h, take())
    if (h.now < deadline) radiusQuery(h, take())
  }
  val callsPerCycle: Map[String, Int] = Map("primary" -> 1, "secondary" -> 1)

  def recall: Double = if (sampled == 0) 0.0 else matched.toDouble / sampled
  val recallName = "sampled_exact_match"

  def close(): Unit = spark.catalog.clearCache()
}

/** The near-duplicate pipeline of `graft.prep`: word-3-gram shingles,
  * MinHash candidate pairs verified by exact Jaccard (materialized), then
  * connected components over the verified pairs. */
final class DedupBatch(spark: SparkSession, seed: Long) extends Workload {
  val primaryOp = "minhash_pairs"
  val secondaryOp = "components"
  private val spec = Gen.DocSpec(docs = 8000, vocab = 20000, minWords = 30,
    maxWords = 80, dupShare = 0.1, editRate = 0.02)
  val threshold = 0.7
  private val data = Gen.docs(spec, seed)
  def inputs: Map[String, Any] = spec.describe ++ Map("threshold" -> threshold)
  def digest: String = data.digest
  private val shingleSets = data.text.map(Gen.shingles)

  /** planted pairs: two members of one copy family whose exact Jaccard
    * reaches the threshold */
  private val planted: Set[(Long, Long)] = {
    val families = data.source.indices.filter(data.source(_) >= 0)
      .groupBy(data.source(_)).map { case (src, copies) => (src +: copies).sorted }
    families.flatMap { f =>
      for (a <- f; b <- f if a < b &&
        Gen.jaccard(shingleSets(a), shingleSets(b)) >= threshold) yield (a.toLong, b.toLong)
    }.toSet
  }

  private var shingled: DataFrame = _

  def setup(): Unit = {
    spark.catalog.clearCache()
    import spark.implicits._
    val raw = data.text.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    shingled = raw.withColumn("_words", TextFunctions.words(col("text")))
      .select(col("doc_id"),
        TextFunctions.shinglesOfWords(col("_words"), 3).as("shingles"))
      .cache()
    shingled.count()
  }

  private var found = 0L
  private var expected = 0L
  private var lastPairs = 0L

  /** one pairs call, then `components` components calls over its pairs */
  private def pass(h: Harness, deadline: Double, components: Int): Unit = {
    if (h.now >= deadline) return
    var pairs: Array[Row] = Array.empty
    val cached = h.op("primary", spec.docs)(
      Dedup.minhashDedup(shingled, "doc_id", "shingles", threshold).cache()) { p =>
        (p, p.count())
      }(_._2) { case (p, _) =>
        pairs = p.collect()
        val got = pairs.map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
        if (h.recordingNow) {
          found += planted.count(got.contains); expected += planted.size
          lastPairs = pairs.length
        }
        pairs.collectFirst {
          case r if r.getAs[Long]("i") >= r.getAs[Long]("j") => "pair with i >= j"
          case r if {
            val (i, j) = (r.getAs[Long]("i").toInt, r.getAs[Long]("j").toInt)
            val jac = Gen.jaccard(shingleSets(i), shingleSets(j))
            jac < threshold - Tol || math.abs(jac - r.getAs[Double]("jaccard")) > 1e-9
          } => "pair below the Jaccard threshold on the driver"
        }
      }
    cached.foreach { case (p, _) =>
      lazy val want = Workloads.components(
        pairs.toSeq.map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))))
      (0 until components).foreach { _ =>
        if (h.now < deadline)
          h.op("secondary", 0)(Dedup.connectedComponents(p.select("i", "j")))(_.collect())(_.length.toLong) { labels =>
            val got = labels.map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
            if (got == want) None else Some("component labels differ from driver union-find")
          }
      }
      p.unpersist(blocking = true)
    }
  }

  /** Four passes, the components call four times in each: the pairs call
    * keeps speeding up (JIT) through its first four runs (after three, the
    * first timed call was still about 10% slower than the rest), the short
    * components call through its first dozen. */
  def warmup(h: Harness): Unit = (0 until 4).foreach(_ => pass(h, Double.MaxValue, 4))
  /** The components call is short next to the pairs call: three per pass
    * give its median as many samples as a longer window would. */
  def cycle(h: Harness, deadline: Double): Unit =
    pass(h, deadline, callsPerCycle("secondary"))
  val callsPerCycle: Map[String, Int] = Map("primary" -> 1, "secondary" -> 3)

  def recall: Double = if (expected == 0) 0.0 else found.toDouble / expected
  val recallName = "dup_pair_recall"

  override def tracedExtras(h: Harness): Map[String, Metric] = {
    val candidates = Dedup.minhashCandidates(shingled, "doc_id", "shingles").count()
    Map(
      "prep.candidate_pairs" -> Metric(candidates.toDouble, "count"),
      "prep.verified_pairs" -> Metric(lastPairs.toDouble, "count"),
      "prep.verify_yield" -> Metric(if (candidates == 0) 0 else lastPairs.toDouble / candidates, "ratio"),
      "prep.planted_pairs" -> Metric(planted.size, "count"))
  }

  def close(): Unit = spark.catalog.clearCache()
}

object Layout {
  final case class Listing(entries: Map[String, (Long, Long)]) {
    def files: Long = entries.size
    def bytes: Long = entries.values.map(_._1).sum
    /** bytes in files that are new or rewritten since `before` */
    def newSince(before: Listing): Long = entries.collect {
      case (p, (len, mtime)) if !before.entries.get(p).contains((len, mtime)) => len
    }.sum
  }

  /** every data file under a layout directory: path -> (bytes, mtime) */
  def list(path: String): Listing = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    Listing(walk(root).filterNot(_.getName.endsWith(".crc"))
      .map(f => f.getPath -> (f.length, f.lastModified)).toMap)
  }
}
