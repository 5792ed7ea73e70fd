package kebench

import scala.util.Random

/** Seeded input generator. Pure Scala and independent of Spark: the
  * same seed and sizes always give the same documents, queries, CDC
  * epochs and embeddings (GenSpec pins it). Main writes the results
  * as an sf-style directory (`documents.parquet`,
  * `embeddings.parquet`) that graft reads through `Tables`.
  */
object Gen {

  final case class Doc(id: Long, text: String, source: String,
                       url: String, lang: String)

  /** One served search. `kind` is hybrid, filtered, bm25 or rerank;
    * `source` is set for filtered searches only. */
  final case class Query(kind: String, text: String,
                         source: Option[String])

  /** One CDC epoch: new text for live ids, new ids, and deleted ids. */
  final case class Epoch(changed: Seq[Doc], added: Seq[Doc],
                         deleted: Seq[Long])

  final case class Vec(id: Long, label: Int, v: Array[Float])

  val VocabSize = 6000
  val Sources: IndexedSeq[String] = (0 until 12).map(i => f"src$i%02d")
  val QueryKinds: IndexedSeq[String] =
    IndexedSeq("hybrid", "filtered", "bm25", "rerank")

  private val onsets = IndexedSeq("b", "c", "d", "f", "g", "h", "k", "l",
    "m", "n", "p", "r", "s", "t", "v", "w", "z", "br", "ch", "st", "tr",
    "pl", "gr", "sh")
  private val vowels = IndexedSeq("a", "e", "i", "o", "u", "ai", "ou", "ea")
  private val codas = IndexedSeq("", "", "n", "r", "s", "t", "l", "x", "nd",
    "rk", "m")

  /** SplitMix64's finalizer: java.util.Random's first draws for
    * nearby seeds are close, so every per-item generator is seeded
    * through this mix. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def rng(parts: Long*): Random =
    new Random(parts.foldLeft(0L)((h, p) => mix(h ^ p)))

  /** Cumulative Zipf weights over ranks 1..n with exponent s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(rnd: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** A vocabulary of distinct lowercase words, most frequent first. */
  def vocabulary(seed: Long, size: Int = VocabSize): IndexedSeq[String] = {
    val rnd = rng(seed, 1L)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val syl = 1 + rnd.nextInt(3)
      val w = (0 until syl).map { _ =>
        onsets(rnd.nextInt(onsets.size)) + vowels(rnd.nextInt(vowels.size)) +
          codas(rnd.nextInt(codas.size))
      }.mkString
      if (w.length >= 3) seen += w
    }
    seen.toIndexedSeq
  }

  /** Generates every input of one benchmark run from one seed. */
  final class World(seed: Long) {
    val vocab: IndexedSeq[String] = vocabulary(seed)
    private val words = new Zipf(vocab.size, 1.05)
    private val sourceDist = new Zipf(Sources.size, 1.2)

    private def word(rnd: Random): String = vocab(words.draw(rnd))
    private def phrase(rnd: Random, lo: Int, hi: Int): String =
      Seq.fill(lo + rnd.nextInt(hi - lo + 1))(word(rnd)).mkString(" ")
    private def sentence(rnd: Random): String = {
      val s = phrase(rnd, 6, 16)
      s.head.toUpper.toString + s.tail + "."
    }
    private def paragraph(rnd: Random): String =
      Seq.fill(2 + rnd.nextInt(4))(sentence(rnd)).mkString(" ")

    private def ident(rnd: Random): String = s"${word(rnd)}_${word(rnd)}"

    private def codeBlock(rnd: Random): String = rnd.nextInt(4) match {
      case 0 =>
        val f = ident(rnd)
        s"```python\ndef $f(${word(rnd)}):\n    ${word(rnd)} = ${ident(rnd)}(${word(rnd)})\n" +
          s"    return ${word(rnd)}  # ${phrase(rnd, 2, 5)}\n```"
      case 1 =>
        s"```yaml\n${word(rnd)}:\n  ${word(rnd)}: ${rnd.nextInt(1000)}\n" +
          s"  ${word(rnd)}: ${word(rnd)}\n  enabled: true\n```"
      case 2 =>
        s"```http\nGET /api/v1/${word(rnd)}/${word(rnd)}?limit=${1 + rnd.nextInt(50)}\n" +
          s"Accept: application/json\n```"
      case _ =>
        s"```json\n{\"${word(rnd)}\": \"${word(rnd)}\", \"${word(rnd)}\": ${rnd.nextInt(100)}}\n```"
    }

    private def docText(rnd: Random): String = {
      val parts = Seq.newBuilder[String]
      parts += s"# ${phrase(rnd, 2, 5)}"
      parts += paragraph(rnd)
      (0 until 1 + rnd.nextInt(3)).foreach { _ =>
        parts += s"## ${phrase(rnd, 1, 4)}"
        parts += paragraph(rnd)
        if (rnd.nextInt(3) > 0) parts += codeBlock(rnd)
        if (rnd.nextInt(2) == 0) parts += paragraph(rnd)
      }
      parts.result().mkString("\n\n")
    }

    /** Document `id`, version `version`: its metadata is fixed by id,
      * its text changes with the version (CDC updates rewrite it). */
    def doc(id: Long, version: Int): Doc = {
      val meta = rng(seed, 2L, id)
      val source = Sources(sourceDist.draw(meta))
      val lang = meta.nextInt(10) match {
        case 0 => "de"; case 1 => "fr"; case _ => "en"
      }
      val url = s"https://docs.$source.example/${vocab(meta.nextInt(200))}/$id"
      val rnd = rng(seed, 3L, id, version.toLong)
      Doc(id, docText(rnd), source, url, lang)
    }

    def docs(from: Long, n: Int): Seq[Doc] =
      (from until from + n).map(doc(_, 0))

    /** A pool of `distinct` two-term query strings drawn Zipf-wise
      * into a stream of `n`, so popular strings repeat. Terms come from
      * the head and middle of the vocabulary so every query has hits;
      * a fixed term count keeps the work per query alike across seeds.
      * Kinds cycle in a fixed order (stream `k` starts at kind `2k`),
      * so every seed serves the same mix; a filtered query filters on
      * the largest source. */
    def queries(n: Int, distinct: Int, stream: Int = 0): Seq[Query] = {
      val rnd = rng(seed, 4L)
      val headish = new Zipf(math.min(800, vocab.size), 0.7)
      val pool = IndexedSeq.fill(distinct) {
        Seq.fill(2)(vocab(headish.draw(rnd))).mkString(" ")
      }
      val pick = new Zipf(distinct, 0.9)
      val srnd = rng(seed, 5L, stream.toLong)
      (0 until n).map { i =>
        val kind = QueryKinds((i + 2 * stream) % QueryKinds.size)
        val src = if (kind == "filtered") Some(Sources(0)) else None
        Query(kind, pool(pick.draw(srnd)), src)
      }
    }

    /** `n` CDC epochs over an initial corpus of ids [0, live0): each
      * rewrites `changed` live docs, adds `added` fresh ids and
      * deletes `deleted` live ids. No id is deleted twice or changed
      * after deletion. */
    def epochs(live0: Long, n: Int, changed: Int, added: Int,
               deleted: Int): Seq[Epoch] = {
      val rnd = rng(seed, 6L)
      val live = scala.collection.mutable.ArrayBuffer.range(0L, live0)
      val version = scala.collection.mutable.Map.empty[Long, Int]
      var next = live0
      (0 until n).map { _ =>
        val shuffled = rnd.shuffle(live.indices.toIndexedSeq)
        val ch = shuffled.take(changed).map(live(_))
        val del = shuffled.slice(changed, changed + deleted).map(live(_))
        val chDocs = ch.sorted.map { id =>
          val v = version.getOrElse(id, 0) + 1
          version(id) = v
          doc(id, v)
        }
        val addDocs = (next until next + added).map(doc(_, 0))
        next += added
        val delSet = del.toSet
        live.filterInPlace(id => !delSet(id))
        live ++= addDocs.map(_.id)
        Epoch(chDocs, addDocs, del.sorted)
      }
    }

    /** `n` unit vectors of `dims` dims around `clusters` centres; the
      * label is the centre. */
    def vectors(n: Int, dims: Int = 64, clusters: Int = 16,
                from: Long = 0L, salt: Int = 0): Seq[Vec] = {
      val crnd = rng(seed, 7L)
      val centres = Array.fill(clusters)(unit(Array.fill(dims)(crnd.nextGaussian())))
      val rnd = rng(seed, 8L, salt.toLong)
      (0 until n).map { i =>
        val label = rnd.nextInt(clusters)
        val v = unit(centres(label).map(_ + 0.1 * rnd.nextGaussian()))
        Vec(from + i, label, v.map(_.toFloat))
      }
    }

    private def unit(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(a.map(x => x * x).sum)
      a.map(_ / n)
    }
  }
}
