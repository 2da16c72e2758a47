package graft.fleetbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.functions.expressions.splitmix

/** `curation_batch`: a seeded document and embedding corpus with
  * `GenCorpus`'s statistics (Zipf vocabulary, ~5 % near-dup chains,
  * ~0.16 % exact dups, 10 % near-dup vectors), swept by a fixed mix of 9
  * `SparkEntry.queries` through `noop` writes, as `Bench` runs them.
  *
  * Why: exercises `queries`, the `functions.expressions` kernels and the
  * `IndexCache` artifacts; touches neither `streaming` nor `metrics`. The
  * closed loop runs whole sweeps of the mix; a sweep is the latency
  * sample, and each query counts as one attempted operation. The corpus
  * is new to the JVM, so the warm-up sweep builds every artifact the mix
  * uses, inside `setup_s`.
  */
final class Curation(seed: Long, tiny: Boolean, work: Path) extends Workload {
  val name = "curation_batch"
  private[fleetbench] val (nDocs, nVecs) = if (tiny) (400L, 200L) else (1000L, 500L)
  private[fleetbench] val corpus = work.resolve("corpus")
  private[fleetbench] val gen = new Curation.Corpus(seed)
  private[fleetbench] val fns = Curation.Mix.map { q =>
    q -> SparkEntry.queries.collectFirst { case (k, f) if k.startsWith(q + "_") => f }
      .getOrElse(throw new IllegalStateException(s"query $q is not declared"))
  }
  /** Queries whose checked output was wrong, with what was wrong; filled
    * by the first operation. */
  private var wrong: Option[Map[String, Seq[String]]] = None

  def stage(e: Engine): Unit = {
    val s = e.spark
    import s.implicits._
    val g = gen
    s.range(nDocs).repartition(e.cores).map { id =>
      val text = g.docText(id)
      (id, text, Curation.Langs(math.floorMod(g.mix(id, 1), 5L).toInt),
        s"src${math.floorMod(g.mix(id, 2), 20L)}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(corpus.resolve("documents.parquet").toString)
    s.range(nVecs).repartition(e.cores).map { id =>
      (id, g.embedding(id).toSeq, math.floorMod(g.mix(id, 3), 10L).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(corpus.resolve("embeddings.parquet").toString)
  }

  def op(e: Engine, op: Int, tr: Option[Tracer]): OpResult = {
    val s = e.spark
    // the first operation collects the checked queries' outputs in place
    // of the noop write; later operations reuse the verdict
    val collected = mutable.Map.empty[String, Seq[Row]]
    def exec(q: String, f: Curation.Query): Unit =
      if (wrong.isEmpty && Curation.Checked(q)) collected(q) = f(s, corpus.toString).collect().toSeq
      else Curation.run(s, f, corpus)
    val c0 = e.counts()
    val t0 = System.nanoTime()
    val runs = fns.map { case (q, f) =>
      val c = if (tr.isDefined) e.counts() else Counts.zero
      val q0 = System.nanoTime()
      val r = scala.util.Try(tr.fold(exec(q, f))(t => t(s"queries.$q", op)(exec(q, f))))
      val ms = (System.nanoTime() - q0) / 1e6
      (q, r, ms, if (tr.isDefined) e.counts() - c else Counts.zero)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val counts = e.counts() - c0
    val checks = wrong.getOrElse {
      val w = Curation.checkAll(gen, nDocs, nVecs, collected.toMap)
      wrong = Some(w)
      w
    }
    val failed = runs.filter { case (q, r, _, _) => r.isFailure || checks.contains(q) }
    val errors = runs.collect { case (q, scala.util.Failure(err), _, _) => s"$q failed: $err" } ++
      checks.toSeq.flatMap { case (q, es) => es.map(m => s"$q: $m") }
    val layers = if (tr.isEmpty) Map.empty[String, Double] else {
      val cpu = runs.map(_._4.cpuS).sum
      runs.flatMap { case (q, _, ms, c) =>
        Seq(s"queries.${q}_pct" -> 100.0 * ms / 1e3 / wall,
          s"queries.${q}_cpu_pct" -> 100.0 * c.cpuS / cpu)
      }.toMap + ("trace.accounted_pct" -> 100.0 * runs.map(_._3).sum / 1e3 / wall)
    }
    OpResult(wall, Seq(wall * 1e3), runs.size, failed.size, nDocs + nVecs, counts, layers, errors)
  }

  override def notes(ops: Seq[OpResult]): Seq[String] = Seq(
    f"sweep of ${Curation.Mix.size} queries: executor CPU ${Stats.median(ops.map(_.counts.cpuS))}%.3f s",
    s"$nDocs documents, $nVecs vectors")
}

object Curation {
  /** The fixed query mix, one or more per family: text dedup (q17, q18,
    * q19), span surgery (q86), vector kernels (q25, q39, q78), retrieval
    * (q84), clustering (q47). It holds the four checked queries and a
    * user of each artifact family below. */
  val Mix: Seq[String] = Seq("q17", "q18", "q19", "q86", "q25", "q39", "q78", "q84", "q47")

  /** `IndexCache` artifact families the mix builds. */
  val ArtifactFamilies: Seq[String] = Seq("bm25", "ccluster", "pq")

  val Langs: Array[String] = Array("en", "fr", "de", "es", "zh")

  type Query = (SparkSession, String) => DataFrame

  /** The queries whose outputs are checked against ground truth. */
  val Checked: Set[String] = Set("q17", "q18", "q19", "q25")

  def run(s: SparkSession, f: Query, corpus: Path): Unit =
    f(s, corpus.toString).write.format("noop").mode("overwrite").save()

  /** The corpus as pure functions of (seed, id), so ground truth is
    * recomputed in plain Scala without the engine. Its structure is the
    * same for every seed: each document's length and Zipf word ranks,
    * which documents are planted duplicates and where a near-dup differs
    * from its predecessor (one word at a fixed position plus one in 24,
    * each replaced by a different word, which puts planted pairs near
    * word-3-gram Jaccard 0.8 and never makes them exact copies), and the
    * vectors up to sign. The seed picks the spelling of each word rank (a
    * permutation of the vocabulary) and a sign per vector dimension, so
    * seeds change the inputs but not how much work they make. */
  final class Corpus(seed: Long) extends Serializable {
    private val Vocab = 50000
    @transient private lazy val cum: Array[Double] = {
      val w = Array.tabulate(Vocab)(k => 1.0 / math.pow(k + 1.0, 1.07))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private val shift = math.floorMod(splitmix(seed), Vocab.toLong)
    private val mult = Iterator.iterate(math.floorMod(splitmix(seed ^ 1L), Vocab.toLong))(_ + 1)
      .find(m => BigInt(m).gcd(Vocab) == 1).get
    private val signs = splitmix(seed ^ 2L)

    /** Seed-independent draws that fix the corpus structure. */
    def mix(id: Long, stream: Long): Long = splitmix(0x5EEDL ^ (id * 1000003L + stream))
    private def unit(id: Long, stream: Long): Double =
      (mix(id, stream) >>> 11).toDouble / (1L << 53).toDouble
    private def rank(id: Long, stream: Long): Int = {
      val i = java.util.Arrays.binarySearch(cum, unit(id, stream))
      math.min(if (i >= 0) i else -i - 1, Vocab - 1)
    }
    private def word(rank: Int): String = s"w${(rank * mult + shift) % Vocab}"
    private def ranks(id: Long): Array[Int] = {
      val len = 16 + math.floorMod(mix(id * 31, 7), 75L).toInt
      Array.tabulate(len)(p => rank(id * 131 + p, 9001L + p))
    }
    def isExactDup(id: Long): Boolean = id % 625 == 624 && id >= 3
    def isNearDup(id: Long): Boolean = id % 20 == 19
    def docText(id: Long): String =
      if (isExactDup(id)) docText(id - 3)
      else if (isNearDup(id)) {
        val base = ranks(id - 1)
        val always = math.floorMod(mix(id, 12), base.length.toLong).toInt
        base.zipWithIndex.map { case (r, p) =>
          if (p == always || math.floorMod(mix(id * 77 + p, 11), 24L) == 0L) {
            val x = rank(id * 131 + p, 4242L + p)
            if (x == r) word(x) + "m" else word(x)
          } else word(r)
        }.mkString(" ")
      }
      else ranks(id).map(word).mkString(" ")
    private def unsigned(id: Long): Array[Float] =
      if (id % 10 == 9) {
        val base = unsigned(id - 1)
        Array.tabulate(64)(c => base(c) + 0.005f * (unit(id * 17 + c, 555L).toFloat - 0.5f))
      } else Array.tabulate(64)(c => 2.0f * unit(id * 13 + c, 333L).toFloat - 1.0f)
    def embedding(id: Long): Array[Float] = {
      val v = unsigned(id)
      Array.tabulate(64)(c => if ((signs >>> c & 1L) == 1L) -v(c) else v(c))
    }
  }

  /** q18's shingle set: distinct word 3-grams of the space-split text. */
  def shingles(text: String): Set[String] = text.split(' ').sliding(3).collect {
    case w if w.length == 3 => w.mkString(" ")
  }.toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val common = (x intersect y).size
    common.toDouble / (x.size + y.size - common)
  }

  /** Checks the collected outputs of q17, q18, q19 and q25 against
    * ground truth; returns the wrong ones with what is wrong. A checked
    * query that failed to run has no output and counts as wrong. */
  def checkAll(g: Corpus, nDocs: Long, nVecs: Long, out: Map[String, Seq[Row]])
      : Map[String, Seq[String]] = {
    def checked(q: String)(f: Seq[Row] => Seq[String]): (String, Seq[String]) =
      q -> out.get(q).fold(Seq("no output"))(f)
    Seq(
      checked("q17")(checkExact(g, nDocs, _)),
      checked("q18")(checkPairs(g, nDocs, _, exact = true)),
      checked("q19")(checkPairs(g, nDocs, _, exact = false)),
      checked("q25")(checkKnn(g, nVecs, _))
    ).filter(_._2.nonEmpty).toMap
  }

  /** q17 (keep_id, n_copies): exactly the planted copies, nothing else. */
  def checkExact(g: Corpus, nDocs: Long, out: Seq[Row]): Seq[String] = {
    val planted = (0L until nDocs).filter(g.isExactDup).map(id => (id - 3, 2L)).toSet
    val found = out.map(r => (r.getLong(0), r.getLong(1))).filter(_._2 > 1).toSet
    Seq(
      Option.when(found != planted)(
        s"dup groups ${(found diff planted).take(3)} found, ${(planted diff found).take(3)} missed"),
      Option.when(out.size != nDocs - planted.size)(
        s"${out.size} distinct texts, expected ${nDocs - planted.size}")
    ).flatten
  }

  /** q18 (exact) and q19 (MinHash LSH) (i, j, n_i, n_j, common, jaccard):
    * every reported Jaccard matches a plain-Scala recomputation and is at
    * least 0.5. q18 recalls every planted near-dup pair at Jaccard >= 0.5.
    * q19 is approximate: it recalls every planted pair that its 16 bands of
    * 4 rows miss with probability (1 - J^4)^16 below 1e-4 (J >= 0.83). */
  def checkPairs(g: Corpus, nDocs: Long, out: Seq[Row], exact: Boolean): Seq[String] = {
    val text = (id: Long) => g.docText(id)
    val bad = out.filter { r =>
      val j = jaccard(text(r.getLong(0)), text(r.getLong(1)))
      j < 0.5 || math.abs(j - r.getDouble(5)) > 1e-9
    }
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until nDocs).filter(g.isNearDup)
      .map(id => (id - 1, id) -> jaccard(text(id - 1), text(id)))
    val need = planted.collect {
      case (p, j) if (if (exact) j >= 0.5 else math.pow(1 - math.pow(j, 4), 16) < 1e-4) => p
    }
    val missed = need.filterNot(pairs)
    Seq(
      Option.when(bad.nonEmpty)(s"${bad.size} pairs with a wrong or sub-threshold Jaccard"),
      Option.when(exact && need.isEmpty)("no planted near-dup pair to recall"),
      Option.when(missed.nonEmpty)(s"missed ${missed.size} of ${need.size} planted pairs")
    ).flatten
  }

  /** q25 (query_id, neighbor_id, rank, score): for a seeded sample of the
    * query vectors (vec_id % 50 == 0), the top-5 equals a brute-force
    * cosine over the corpus, quantized as the kernel quantizes. */
  def checkKnn(g: Corpus, nVecs: Long, out: Seq[Row]): Seq[String] = {
    def q(id: Long): Array[Long] = g.embedding(id).map(x => math.floor(x.toDouble * 1048576.0).toLong)
    val all = (0L until nVecs).map(id => id -> q(id))
    val norms = all.map { case (id, v) => id -> math.sqrt(v.map(x => x * x).sum.toDouble) }.toMap
    val byQuery = out.groupBy(_.getLong(0))
    val queries = (0L until nVecs by 50L).sortBy(g.mix(_, 77)).take(8)
    val expectQueries = (0L until nVecs by 50L).toSet
    val wrongQueries = queries.filter { qid =>
      val qv = q(qid)
      val score = all.filter(_._1 != qid).map { case (id, v) =>
        var dot = 0L
        var i = 0
        while (i < v.length) { dot += qv(i) * v(i); i += 1 }
        id -> dot.toDouble / (norms(qid) * norms(id))
      }.toMap
      val brute = score.values.toSeq.sorted(Ordering[Double].reverse).take(5)
      val got = byQuery.getOrElse(qid, Nil).sortBy(_.getInt(2))
        .map(r => r.getLong(1) -> r.getDouble(3))
      // ids may differ from the brute-force order only between tied scores
      got.size != brute.size || got.zip(brute).exists { case ((id, sc), b) =>
        math.abs(sc - b) > 1e-9 || score.get(id).forall(x => math.abs(x - sc) > 1e-9)
      }
    }
    Seq(
      Option.when(byQuery.keySet != expectQueries)(
        s"${byQuery.size} query vectors answered, expected ${expectQueries.size}"),
      Option.when(wrongQueries.nonEmpty)(
        s"top-5 differs from brute force for queries ${wrongQueries.mkString(",")}")
    ).flatten
  }
}
