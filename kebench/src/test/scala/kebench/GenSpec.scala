package kebench

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Chunker

class GenSpec extends AnyFunSuite {

  private val a = new Gen.World(7L)
  private val b = new Gen.World(7L)
  private val c = new Gen.World(8L)

  test("the same seed gives the same inputs") {
    assert(a.docs(0, 50) == b.docs(0, 50))
    assert(a.queries(40, 16, 1) == b.queries(40, 16, 1))
    assert(a.epochs(50, 3, 8, 6, 4) == b.epochs(50, 3, 8, 6, 4))
    assert(a.vectors(100).map(v => (v.id, v.label, v.v.toSeq)) ==
      b.vectors(100).map(v => (v.id, v.label, v.v.toSeq)))
  }

  test("another seed gives other inputs of the same shape") {
    assert(a.docs(0, 50) != c.docs(0, 50))
    assert(a.vocab != c.vocab)
    assert(a.vocab.size == c.vocab.size)
    assert(a.queries(40, 16).map(_.kind) == c.queries(40, 16).map(_.kind))
  }

  test("docs are markdown with a title, headers, prose and fenced blocks") {
    val docs = a.docs(0, 200)
    assert(docs.forall(_.text.startsWith("# ")))
    assert(docs.forall(_.text.contains("\n## ")))
    val types = docs.flatMap(d => Chunker.chunkMarkdown(d.text, 64, 0))
      .map(_.chunkType).toSet
    assert(Set(Chunker.TypeProse, Chunker.TypeCode, Chunker.TypeApi,
      Chunker.TypeConfig).subsetOf(types))
  }

  test("the vocabulary is large and Zipf-skewed") {
    val words = a.docs(0, 200).flatMap(_.text.toLowerCase.split("[^a-z]+"))
      .filter(a.vocab.toSet)
    val counts = words.groupBy(identity).view.mapValues(_.size).toMap
    assert(a.vocab.size == Gen.VocabSize)
    assert(counts.size > 1000)
    assert(counts(a.vocab.head) > 10 * counts.getOrElse(a.vocab(500), 1))
  }

  test("metadata is skewed over sources; urls and langs are set") {
    val docs = a.docs(0, 500)
    val bySource = docs.groupBy(_.source).view.mapValues(_.size).toMap
    assert(bySource(Gen.Sources(0)) > 3 * bySource.getOrElse(Gen.Sources(11), 0))
    assert(docs.forall(d => d.url.contains(d.source) && d.url.endsWith(s"/${d.id}")))
    assert(docs.map(_.lang).toSet == Set("en", "de", "fr"))
  }

  test("the query stream repeats strings and cycles the kinds") {
    val qs = a.queries(40, 16, 1)
    assert(qs.map(_.text).distinct.size < qs.size)
    assert(qs.take(4).map(_.kind) == Seq("bm25", "rerank", "hybrid", "filtered"))
    assert(qs.forall(q => q.source.isDefined == (q.kind == "filtered")))
  }

  test("CDC epochs change and delete only live docs, each deleted once") {
    val eps = a.epochs(50, 6, 8, 6, 4)
    var live = (0L until 50L).toSet
    eps.foreach { e =>
      assert(e.changed.map(_.id).forall(live))
      assert(e.deleted.forall(live))
      assert(e.added.map(_.id).forall(id => !live(id)))
      assert(e.changed.map(_.id).toSet.intersect(e.deleted.toSet).isEmpty)
      live = live -- e.deleted ++ e.added.map(_.id)
    }
    val changed = eps.head.changed.head
    assert(changed.text != a.doc(changed.id, 0).text)
    assert(changed.source == a.doc(changed.id, 0).source)
  }

  test("vectors are 64-dim unit vectors clustered by label") {
    val vs = a.vectors(400)
    assert(vs.forall(_.v.length == 64))
    assert(vs.forall(v => math.abs(v.v.map(x => x * x).sum - 1.0) < 1e-3))
    def cos(x: Array[Float], y: Array[Float]) = x.zip(y).map(p => p._1 * p._2).sum
    val same = vs.combinations(2).take(2000).filter(p => p(0).label == p(1).label)
      .map(p => cos(p(0).v, p(1).v)).toSeq
    val other = vs.combinations(2).take(2000).filter(p => p(0).label != p(1).label)
      .map(p => cos(p(0).v, p(1).v)).toSeq
    assert(same.sum / same.size > other.sum / other.size + 0.3)
  }
}
