package perfbench

import java.security.MessageDigest

/** Seeded synthetic inputs. The same seed gives the same inputs, and each
  * input set carries a SHA-256 digest so two runs can show they used the
  * same data. Nothing here touches Spark: the engine only ever receives the
  * generated rows. */
object Gen {

  /** Clustered vectors with a low intrinsic dimension, as embeddings have:
    * `clusters` centres drawn from N(0, I) in `dim` dimensions; each point
    * is a centre plus an offset of per-coordinate scale `spread` inside one
    * shared `latent`-dimensional subspace, plus isotropic noise of scale
    * `noise`. `n` store rows, `queries` fresh query points from the same
    * mixture, and `extra` further points kept aside for inserts.
    *
    * The centres, the subspace and the store rows are fixed by
    * [[WorldSeed]], as a benchmark dataset is; the run's seed draws the
    * queries and the rows to insert. Runs thus differ in what they ask of
    * one index, not in the index itself, whose build quality would
    * otherwise vary from seed to seed. */
  final case class VectorSpec(n: Int, dim: Int, clusters: Int,
      spread: Double, queries: Int, extra: Int = 0, latent: Int = 8,
      noise: Double = 0.05) {
    /** elements in the store: the quantity the graph family compares with
      * its 4Mi-element driver-build budget */
    def elements: Long = n.toLong * dim
    def describe: Map[String, Any] = Map("n" -> n, "dim" -> dim,
      "clusters" -> clusters, "spread" -> spread, "latent" -> latent,
      "noise" -> noise, "queries" -> queries, "extra" -> extra,
      "elements" -> elements,
      "share_of_driver_budget" -> elements.toDouble / DriverBudgetElems)
  }

  /** `HnswStrategy.smallBuildElems`: stores at or below this many elements
    * build and walk on the driver */
  val DriverBudgetElems: Long = 4L << 20

  /** fixes the vector distribution and the store rows for every seed */
  val WorldSeed: Long = 20240611L

  final case class Vectors(store: Array[Array[Double]],
      queries: Array[Array[Double]], extra: Array[Array[Double]],
      digest: String)

  def vectors(spec: VectorSpec, seed: Long): Vectors = {
    val world = new java.util.SplittableRandom(WorldSeed)
    val centres = Array.fill(spec.clusters, spec.dim)(gauss(world))
    val basis = Array.fill(spec.dim, spec.latent)(gauss(world) / math.sqrt(spec.latent))
    def point(rnd: java.util.SplittableRandom): Array[Double] = {
      val c = centres(rnd.nextInt(spec.clusters))
      val z = Array.fill(spec.latent)(gauss(rnd))
      Array.tabulate(spec.dim) { d =>
        var off = 0.0; var l = 0
        while (l < spec.latent) { off += basis(d)(l) * z(l); l += 1 }
        c(d) + spec.spread * off + spec.noise * gauss(rnd)
      }
    }
    val store = Array.fill(spec.n)(point(world))
    val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val queries = Array.fill(spec.queries)(point(rnd))
    val extra = Array.fill(spec.extra)(point(rnd))
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    for (arr <- Iterator(store, queries, extra); v <- arr; x <- v) {
      buf.clear(); buf.putDouble(x); md.update(buf.array())
    }
    Vectors(store, queries, extra, hex(md.digest()))
  }

  /** Documents over a `vocab`-word vocabulary, `minWords` to `maxWords`
    * words each. A `dupShare` of them are near-duplicates: a copy of an
    * earlier original with each word replaced with probability
    * `editRate`. */
  final case class DocSpec(docs: Int, vocab: Int, minWords: Int,
      maxWords: Int, dupShare: Double, editRate: Double) {
    def describe: Map[String, Any] = Map("docs" -> docs, "vocab" -> vocab,
      "min_words" -> minWords, "max_words" -> maxWords,
      "dup_share" -> dupShare, "edit_rate" -> editRate)
  }

  /** `source(i)` is the original doc i was copied from, or -1 */
  final case class Docs(text: Array[String], source: Array[Int],
      digest: String)

  def docs(spec: DocSpec, seed: Long): Docs = {
    val rnd = new java.util.SplittableRandom(seed * 0xBF58476D1CE4E5B9L + 7)
    def word(): String = "w" + rnd.nextInt(spec.vocab)
    val text = new Array[String](spec.docs)
    val source = Array.fill(spec.docs)(-1)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until spec.docs) {
      if (originals.nonEmpty && rnd.nextDouble() < spec.dupShare) {
        val src = originals(rnd.nextInt(originals.size))
        source(i) = src
        text(i) = text(src).split(' ').map { w =>
          if (rnd.nextDouble() < spec.editRate) word() else w
        }.mkString(" ")
      } else {
        val len = spec.minWords + rnd.nextInt(spec.maxWords - spec.minWords + 1)
        text(i) = Array.fill(len)(word()).mkString(" ")
        originals += i
      }
    }
    val md = MessageDigest.getInstance("SHA-256")
    text.foreach { t => md.update(t.getBytes("UTF-8")); md.update(0.toByte) }
    Docs(text, source, hex(md.digest()))
  }

  /** distinct word-3-gram shingles, the set `TextFunctions.shinglesOfWords`
    * builds (words split on single spaces, joined back with spaces) */
  def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** one standard normal draw (Box-Muller, one of the pair) */
  private def gauss(rnd: java.util.SplittableRandom): Double = {
    val u = 1.0 - rnd.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
}
