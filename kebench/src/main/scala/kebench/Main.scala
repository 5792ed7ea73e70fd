package kebench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Caches, GraftEngine, Tables}
import graft.operators.{Chunker, Knn}
import graft.sources.TextIndex
import graft.streaming.IngestStream

/** The knowledge-engine benchmark: one run of one workload.
  *
  * `kebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir>` generates its inputs from the seed, drives graft
  * through its public API, checks the outputs, and prints one JSON
  * object as the last line of stdout. See kebench/README.md.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String)

  val Workloads = Seq("serve_hybrid", "update_mixed")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w),
      s"unknown workload $w; expected one of ${Workloads.mkString(", ")}")
    Opts(w, need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/tmp")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out =
      try new Run(spark, o, cores).run()
      finally spark.stop()
    println(out.json)
    if (!out.correct) sys.exit(1)
  }
}

/** The result line: exactly the keys the benchmark contract names. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Sizes of one run. Each run reports every metric, so each runs a
  * whole (small) lifecycle; the workload decides which phase takes
  * the measured seconds. */
object Plan {
  val Docs = 60              // initial corpus, raw markdown docs
  val Vecs = 1200            // PQ store vectors, 64 dims, 16 clusters
  val MaxTokens = 64         // chunk budget, IngestStream's default
  val DistinctQueries = 16   // query pool; the streams repeat it
  val SearchQuota = 4        // serve_hybrid: searches, at least
  val TailLevel = 75         // search_tail_ms percentile
  val BatchSize = 8          // queries per runSearchBatchFromIndex call
  val Batches = 1
  val EpochChanged = 8       // CDC epoch: rewritten live docs
  val EpochAdded = 6         //            new docs
  val EpochDeleted = 4       //            deleted docs
  val MaxBatches = 2L        // syncAuto's compaction trigger
  val UpdateEpochs = 1       // commits in update_mixed, at least
  val PqUpserts = 1
  val PqUpsertSize = 120     // half rewrites, half new ids
  val PqServes = 2
  val PqQueries = 16
  val K = 10
}

/** The stores a run builds under `dir`, beside its sf-style inputs
  * (`documents.parquet`, `embeddings.parquet`). */
final case class Store(dir: String) {
  val index = s"$dir/index"
  val chunks = s"$dir/store"
  val pq = s"$dir/pq"
}

/** Per-phase operation outcomes. */
final class Ops {
  val attempted = new java.util.concurrent.atomic.AtomicLong(0L)
  val failed = new java.util.concurrent.atomic.AtomicLong(0L)
  val byPhase = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  def record(phase: String, ok: Boolean): Unit = {
    attempted.incrementAndGet()
    if (!ok) failed.incrementAndGet()
    byPhase.merge(phase, (1L, if (ok) 0L else 1L),
      (a, b) => (a._1 + b._1, a._2 + b._2))
  }
}

final class Run(spark: SparkSession, o: Main.Opts, cores: Int) {
  import spark.implicits._
  import Plan._

  private val probe = new Probe(spark.sparkContext, o.trace)
  private val world = new Gen.World(o.seed)
  private lazy val corpusDocs = world.docs(0, Docs)
  private val ops = new Ops
  private val st = Store(s"${o.work}/data")
  private val gates = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val notes = mutable.ArrayBuffer.empty[String]

  private val searchMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  // the rows each distinct served query first returned, for the gate
  private val served = new java.util.concurrent.ConcurrentHashMap[Gen.Query, Seq[Row]]()
  private val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  private val commitMs = mutable.ArrayBuffer.empty[Double]
  private var epochDocs = 0L
  private var compacted = 0
  private val pqUpsertMs = mutable.ArrayBuffer.empty[Double]
  private val pqServeMs = mutable.ArrayBuffer.empty[Double]
  private var pqCompactMs = Double.NaN
  private var recall = Double.NaN
  private var setupS = Double.NaN
  private var ingestS = Double.NaN
  private var buildS = Double.NaN
  private var pqBuildS = Double.NaN
  private var chunkerMs = Double.NaN
  // the benchmark's own view of the corpus: live docs, and the chunk
  // count the chunker gives each doc in the chunk store
  private var live: Map[Long, Gen.Doc] = Map.empty
  private var expectedChunks: Map[Long, Int] = Map.empty

  private def gate(name: String, ok: Boolean, detail: String = ""): Unit = {
    gates += ((name, ok, detail))
    if (!ok) System.err.println(s"[kebench] gate $name FAILED $detail")
  }

  /** One timed operation: its result, or None when it threw, and its
    * latency in ms. A throwing operation counts as failed. */
  private def op[T](phase: String, lay: String, name: String, req: String = "")
                   (body: => T): (Option[T], Double) = {
    val t0 = System.nanoTime()
    val r = try Some(probe.call(lay, name, req)(body))
    catch {
      case e: Exception =>
        System.err.println(s"[kebench] $phase $lay.$name failed: $e")
        None
    }
    ops.record(phase, r.isDefined)
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private def phase[T](name: String)(body: => T): T =
    probe.call("bench", name)(body)

  private def docsDf(ds: Seq[Gen.Doc]): DataFrame =
    ds.map(d => (d.id, d.text, d.source, d.url, d.lang))
      .toDF("doc_id", "text", "source", "url", "lang")

  private def vecDf(vs: Seq[Gen.Vec], id: String, v: String): DataFrame =
    vs.map(x => (x.id, x.v.map(_.toDouble).toSeq)).toDF(id, v)

  private def chunkCount(d: Gen.Doc): Int =
    Chunker.chunkMarkdown(d.text, MaxTokens, 0).size

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  // generated queries are lowercase words joined by single spaces, so
  // this split equals graft's word-class query tokenization
  private def terms(q: String): Seq[String] = q.split(' ').toSeq

  // ------------------------------------------------------------ setup --

  /** Inputs generated and written, then every store built from them,
    * one after another: the chunk store through chunk+embed, the text
    * index, the PQ store. Building starts from raw docs, so no memo
    * keyed on the input directory exists yet. */
  private def setup(): Unit = {
    val t0 = System.nanoTime()
    val docs = corpusDocs
    phase("generate") {
      docsDf(docs).coalesce(1).write.parquet(s"${st.dir}/documents.parquet")
      world.vectors(Vecs).map(v => (v.id, v.v.toSeq, v.label))
        .toDF("vec_id", "embedding", "label").coalesce(1)
        .write.parquet(s"${st.dir}/embeddings.parquet")
    }
    val c0 = System.nanoTime()
    expectedChunks = probe.call("chunker", "chunk_markdown", "setup") {
      docs.map(d => d.id -> chunkCount(d)).toMap
    }
    chunkerMs = (System.nanoTime() - c0) / 1e6
    val corpus = Tables.documents(spark, st.dir)
    ingestS = op("setup", "ingest", "reingest", "setup") {
      IngestStream.reingest(corpus, st.chunks, MaxTokens)
    }._2 / 1e3
    buildS = op("setup", "text_index", "build", "setup") {
      new GraftEngine(spark, corpus).buildSearchIndex(st.index)
    }._2 / 1e3
    pqBuildS = op("setup", "knn", "pq_build", "setup") {
      Knn.writePqIndex(spark, st.dir, st.pq)
    }._2 / 1e3
    live = docs.map(d => d.id -> d).toMap
    setupS = (System.nanoTime() - t0) / 1e9
  }

  // ------------------------------------------------------------ serve --

  /** One served search, the way a qurio deployment serves it: rank
    * from the persisted index and render the hits. */
  private def serveOne(eng: GraftEngine, q: Gen.Query): Seq[Row] =
    q.kind match {
      case "hybrid" => eng.runSearchFromIndex(st.index, q.text)
      case "bm25" => eng.runSearchFromIndex(st.index, q.text, alpha = 0.0)
      case "rerank" => eng.runSearchFromIndex(st.index, q.text, rerank = true)
      case "filtered" =>
        // the facade serves filters through searchFromIndex; the render
        // is the renderHits call runSearchFromIndex makes
        TextIndex.renderHits(spark, st.index,
          eng.searchFromIndex(st.index, q.text,
            filters = Map("source" -> q.source.get)), terms(q.text))
          .orderBy($"hybrid_score".desc, $"doc_id").collect().toSeq
    }

  /** Served searches from the client's seeded stream, one at a time,
    * from position `from` until `stop(issued)`. */
  private def searches(eng: GraftEngine, from: Int, stop: Int => Boolean): Unit = {
    val qs = world.queries(400, DistinctQueries)
    var i = 0
    while (!stop(i)) {
      val q = qs((from + i) % qs.size)
      val (r, ms) = op("search", "text_index", q.kind, s"q${from + i}") {
        serveOne(eng, q)
      }
      r.foreach { rows => searchMs.add(ms); served.putIfAbsent(q, rows) }
      i += 1
    }
  }

  private val batchQueries: Seq[(Long, String)] =
    world.queries(BatchSize, DistinctQueries, 5).zipWithIndex
      .map { case (q, i) => (i.toLong, q.text) }
  @volatile private var batchRows = Seq.empty[Row]

  private def batches(eng: GraftEngine): Unit =
    (0 until Batches).foreach { b =>
      val (r, ms) = op("batch", "text_index", "batch", s"batch-$b") {
        eng.runSearchBatchFromIndex(st.index, batchQueries)
      }
      r.foreach { rows => batchMs.add(ms); batchRows = rows }
    }

  // ----------------------------------------------------------- writes --

  /** One CDC epoch: changed and new docs synced into the index with
    * the deletes as one commit, compaction fused in when due. */
  private def epoch(e: Gen.Epoch, id: Long): Unit = {
    val fresh = e.changed ++ e.added
    val (r, ms) = op("update", "text_index", "commit", s"epoch-$id") {
      TextIndex.syncAuto(docsDf(fresh), e.deleted.toDF("doc_id"), st.index,
        epochId = id, maxBatches = MaxBatches)
    }
    r.foreach { due =>
      commitMs += ms
      epochDocs += fresh.size + e.deleted.size
      if (due) compacted += 1
      live = live -- e.deleted ++ fresh.map(d => d.id -> d)
    }
  }

  // the vectors the PQ store holds, on the benchmark's side
  @volatile private var vecs: Map[Long, Array[Float]] = Map.empty

  /** PQ upsert epochs, then a count-gated compaction. */
  private def vectorWrites(): Unit = {
    (0 until PqUpserts).foreach { u =>
      val half = PqUpsertSize / 2
      val batch = world.vectors(half, from = u * 500L, salt = 100 + u) ++
        world.vectors(half, from = Vecs + u * half.toLong, salt = 200 + u)
      val (r, ms) = op("vector", "knn", "pq_upsert", s"pq-$u") {
        Knn.upsertPqIndex(spark, st.pq, vecDf(batch, "vec_id", "v"))
      }
      if (r.isDefined) {
        pqUpsertMs += ms
        vecs ++= batch.map(v => v.id -> v.v)
      }
    }
    pqCompactMs = op("vector", "knn", "pq_compact") {
      Knn.maybeCompactPq(spark, st.pq, maxFilesPerCell = 2.0)
    }._2
  }

  /** Batched kNN serves; recall@10 against exact cosine over the
    * vectors the store should hold. */
  private def vectorServes(): Unit = {
    val ids = vecs.keys.toIndexedSeq.sorted
    val rnd = new scala.util.Random(o.seed * 31L + 7L)
    val recalls = mutable.ArrayBuffer.empty[Double]
    (0 until PqServes).foreach { s =>
      val qids = Seq.fill(PqQueries)(ids(rnd.nextInt(ids.size))).distinct
      val qdf = qids.map(i => (i, vecs(i).map(_.toDouble).toSeq)).toDF("q_id", "qv")
      val (r, ms) = op("vector", "knn", "pq_serve", s"pqs-$s") {
        Knn.serveFromPqIndex(spark, st.pq, qdf, nprobe = 3, k = K,
          candidates = 40).collect()
      }
      r.foreach { rows =>
        pqServeMs += ms
        val got = rows.groupBy(_.getAs[Long]("q_id"))
          .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
        qids.foreach { q =>
          recalls += Exact.topK(vecs, q, K).count(got.getOrElse(q, Set.empty[Long]))
            .toDouble / K
        }
      }
    }
    recall = recalls.sum / math.max(1, recalls.size)
  }

  // ------------------------------------------------------------- gates --

  private def key(rows: Seq[Row], cols: Seq[String]): Seq[Seq[Any]] =
    rows.map(r => cols.map(c => r.getAs[Any](c)))

  /** Served searches equal the scan path over the live corpus they
    * served; serve_hybrid's searches all follow its one commit. Each
    * run checks one kind, hybrid, filtered or rerank by seed, on its
    * first served query of that kind. */
  private def serveGate(): Unit = {
    val kind = Seq("hybrid", "filtered", "rerank")(Math.floorMod(o.seed, 3L).toInt)
    val eng = new GraftEngine(spark, docsDf(live.values.toSeq.sortBy(_.id)))
    served.asScala.keys.filter(_.kind == kind).toSeq
      .sortBy(q => (q.text, q.source.toString)).headOption match {
      case None => gate(s"serve_equals_scan.$kind", ok = false, "no sample")
      case Some(q) =>
        val (want, cols) = kind match {
          case "hybrid" => (eng.search(q.text), Seq("doc_id", "hybrid_score"))
          case "filtered" => (eng.search(q.text, filters = Map("source" -> q.source.get)),
            Seq("doc_id", "hybrid_score"))
          case _ => (eng.searchReranked(q.text),
            Seq("doc_id", "hybrid_score", "rerank_score"))
        }
        val got = key(served.get(q), cols)
        val exp = key(want.collect().toSeq, cols)
        gate(s"serve_equals_scan.$kind", got == exp, s"query '${q.text}': $got vs $exp")
    }
  }

  /** After the updates, the batch served after the last commit equals
    * the scan path over the final live corpus, which the benchmark
    * tracks on its own side. graft documents served results as
    * bit-equal to both the scan path and a fresh build; the scan path
    * is the cheaper oracle. */
  private def updateGate(): Unit = {
    val eng = new GraftEngine(spark, docsDf(live.values.toSeq.sortBy(_.id)))
    val cols = Seq("doc_id", "hybrid_score")
    batchQueries.take(1).foreach { case (qid, text) =>
      val got = key(batchRows.filter(_.getAs[Long]("qid") == qid), cols)
      val want = key(eng.search(text).collect().toSeq, cols)
      gate(s"update_equals_scan.q$qid", got.nonEmpty && got == want,
        s"query '$text': $got vs $want")
    }
  }

  private def chunkGate(): Unit = {
    val stored = spark.read.parquet(s"${st.chunks}/chunks").count()
    val want = expectedChunks.values.sum.toLong
    gate("chunk_count", stored == want, s"stored $stored, chunker $want")
  }

  // --------------------------------------------------------------- run --

  def run(): Result = {
    val gc0 = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    phase("setup")(setup())
    vecs = world.vectors(Vecs).map(v => v.id -> v.v).toMap
    val eng = new GraftEngine(spark, Tables.documents(spark, st.dir))
    val epochs = world.epochs(Docs, 32, EpochChanged, EpochAdded, EpochDeleted)
    var searchWall = 0.0
    var searched = 0
    // the measured phase: from its start for at least the measured
    // seconds; searches per second count over all of it
    def measured(name: String)(body: Long => Unit): Unit = {
      val t0 = System.nanoTime()
      phase(name)(body(t0 + o.seconds * 1000000000L))
      searchWall = (System.nanoTime() - t0) / 1e9
      searched = searchMs.size
    }
    o.workload match {
      case "serve_hybrid" =>
        // one CDC commit and one PQ upsert bring the stores to a served
        // generation; then reads only: served searches for the measured
        // seconds, the batch tier and the PQ store's kNN serves
        phase("prepare") {
          epoch(epochs(0), 0L)
          vectorWrites()
        }
        measured("serve") { deadline =>
          searches(eng, 0, i => i >= SearchQuota && System.nanoTime() >= deadline)
        }
        phase("tail") {
          batches(eng)
          vectorServes()
        }
      case "update_mixed" =>
        // each CDC epoch's commit is followed by a search that reads
        // the new generation; then the PQ store's upsert, count-gated
        // compaction and a kNN serve, and a batch after the last commit
        measured("update") { deadline =>
          // stream positions 0, 4, 8… are all hybrid searches, the
          // default serving call
          var i = 0
          while (i < UpdateEpochs || System.nanoTime() < deadline) {
            epoch(epochs(i), i.toLong)
            searches(eng, 4 * i, _ >= 1)
            i += 1
          }
        }
        phase("tail") {
          vectorWrites()
          vectorServes()
          batches(eng)
        }
    }
    // process state as a long-running deployment holds it: graft's
    // caches are still in place
    val tracked = Caches.trackedCount
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    Caches.releaseAll()

    phase("gates") {
      chunkGate()
      gate("vector_recall_at_10", recall >= 0.5, s"recall $recall")
      if (o.workload == "update_mixed") updateGate() else serveGate()
    }
    val (liveDocs, indexBytes) = phase("state") {
      TextIndex.vacuum(spark, st.index)
      (TextIndex.docsTable(spark, st.index).count(), dirBytes(new File(st.index)))
    }
    gate("live_docs", liveDocs == live.size, s"index $liveDocs, expected ${live.size}")

    val lat = searchMs.asScala.toSeq
    notes += s"search_tail_ms is p$TailLevel of ${lat.size} searches"
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("search_p50_ms", Stats.median(lat), "ms"),
      ("search_tail_ms", Stats.quantile(lat, TailLevel / 100.0), "ms"),
      ("search_qps", searched / searchWall, "1/s"),
      ("batch_search_qps", BatchSize * batchMs.size / (batchMs.asScala.sum / 1e3), "1/s"),
      ("ingest_docs_per_s", Docs / (ingestS + buildS), "1/s"),
      ("commit_p50_ms", Stats.median(commitMs.toSeq), "ms"),
      ("update_docs_per_s", epochDocs / (commitMs.sum / 1e3), "1/s"),
      ("vector_search_p50_ms", Stats.median(pqServeMs.toSeq), "ms"),
      ("vector_upsert_p50_ms", Stats.median(pqUpsertMs.toSeq), "ms"),
      ("vector_recall_at_10", recall, "ratio"),
      ("index_bytes_per_doc", indexBytes.toDouble / liveDocs, "B"),
      ("heap_retained_mb", heapMb, "MB"),
      ("ok_op_ratio", 1.0 - ops.failed.get.toDouble / ops.attempted.get, "ratio"))
    val metrics =
      if (o.trace) new Layers(probe, cores, o, notes).metrics(LayerInputs(
        chunkerMs, expectedChunks, docsBytes, ingestS, buildS, pqBuildS,
        compacted, epochDocs, batchMs.asScala.toSeq, pqUpsertMs.toSeq,
        pqCompactMs, tracked, gcMs() - gc0, lat, legProbe()))
      else e2e

    report()
    val correct = gates.forall(_._2) && ops.failed.get == 0
    Result(correct, ops.attempted.get, ops.failed.get, metrics)
  }

  private lazy val docsBytes: Long =
    corpusDocs.map(_.text.getBytes("UTF-8").length.toLong).sum

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Each serve leg of one query called on its own (traced runs
    * only): latency in ms by leg. The render leg renders the hybrid
    * leg's collected ranking. */
  private def legProbe(): Map[String, Double] = phase("legs") {
    val q = world.queries(1, DistinctQueries).head.text
    val ts = terms(q)
    val eng = new GraftEngine(spark, Tables.documents(spark, st.dir))
    def leg(name: String)(body: => Any): (String, Double) =
      name -> op("legs", "text_index", s"leg_$name")(body)._2
    var hybrid: DataFrame = null
    var ranked = Array.empty[Row]
    val legs = Seq(
      leg("bm25")(eng.searchFromIndex(st.index, q, alpha = 0.0).collect()),
      leg("vector")(TextIndex.vectorServe(spark, st.index, ts).collect()),
      leg("hybrid") {
        hybrid = eng.searchFromIndex(st.index, q)
        ranked = hybrid.collect()
      },
      leg("rerank")(eng.searchRerankedFromIndex(st.index, q).collect()),
      leg("render")(TextIndex.renderHits(spark, st.index,
        spark.createDataFrame(ranked.toSeq.asJava, hybrid.schema), ts).collect()))
    Caches.releaseAll()
    legs.toMap
  }

  /** Human-readable lines before the result: phases with their calls,
    * operation counts per phase, gates. */
  private def report(): Unit = {
    val spans = probe.allSpans
    val byParent = spans.groupBy(_.parent)
    def below(id: Long): Seq[Span] =
      byParent.getOrElse(id, Nil).flatMap(c => c +: below(c.id))
    spans.filter(s => s.layer == "bench" && s.parent == 0L).foreach { p =>
      val calls = below(p.id).filter(_.layer != "bench")
        .groupBy(c => s"${c.layer}.${c.op}").toSeq.sortBy(_._1)
        .map { case (n, cs) => f"$n ${cs.size}x ${cs.map(_.ms).sum / 1e3}%.2fs" }
      notes += f"phase ${p.op} ${p.ms / 1e3}%.2f s: ${calls.mkString(", ")}"
    }
    ops.byPhase.asScala.toSeq.sortBy(_._1).foreach { case (p, (a, f)) =>
      notes += s"ops $p attempted $a failed $f" }
    gates.foreach { case (n, ok, _) => notes += s"gate $n ${if (ok) "pass" else "FAIL"}" }
    notes.foreach(n => println(s"[kebench] $n"))
  }
}

/** Exact cosine top-k over unit vectors, excluding the query itself
  * (serveFromPqIndex excludes it too). */
object Exact {
  def topK(live: Map[Long, Array[Float]], q: Long, k: Int): Set[Long] = {
    val qv = live(q)
    live.iterator.filter(_._1 != q).map { case (id, v) =>
      var dot = 0.0; var nq = 0.0; var nv = 0.0; var i = 0
      while (i < v.length) {
        dot += qv(i) * v(i); nq += qv(i) * qv(i); nv += v(i) * v(i); i += 1
      }
      (id, dot / math.sqrt(nq * nv))
    }.toSeq.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet
  }
}
