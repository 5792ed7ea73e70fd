package kebench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What the run measured outside the spans, for the per-layer view. */
final case class LayerInputs(chunkerMs: Double, chunks: Map[Long, Int],
                             docsBytes: Long, ingestS: Double,
                             buildS: Double, pqBuildS: Double,
                             compacted: Int, changedDocs: Long,
                             batchMs: Seq[Double], pqUpsertMs: Seq[Double],
                             pqCompactMs: Double, tracked: Int, gcMs: Long,
                             searchMs: Seq[Double],
                             legs: Map[String, Double])

/** Per-layer metrics of a traced run: the spans the benchmark recorded
  * around its calls into each layer, with the Spark counters of each
  * call's jobs. Also writes the spans out. */
final class Layers(probe: Probe, cores: Int, o: Main.Opts,
                   notes: mutable.ArrayBuffer[String]) {

  private val out = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def l(n: String, v: Double, u: String): Unit = out(n) = (v, u)

  def metrics(in: LayerInputs): Seq[(String, Double, String)] = {
    probe.drain()
    val spans = probe.allSpans
    val children = spans.groupBy(_.parent)
    def calls(lay: String, ops: String*): Seq[Span] =
      spans.filter(s => s.layer == lay && ops.contains(s.op) && s.ok)
    def sum(ss: Seq[Span]): Counters =
      ss.foldLeft(new Counters)((c, s) => c.add(probe.total(s, children)))
    def per(ss: Seq[Span], f: Counters => Double): Double =
      if (ss.isEmpty) Double.NaN else f(sum(ss)) / ss.size
    def med(ss: Seq[Span]): Double = Stats.median(ss.map(_.ms))

    l("chunker.ms_per_doc", in.chunkerMs / Plan.Docs, "ms")
    l("chunker.chunks_per_doc",
      in.chunks.values.sum.toDouble / in.chunks.size, "count")

    val ingest = calls("ingest", "reingest").filter(_.req == "setup")
    l("ingest.chunk_embed_s", in.ingestS, "s")
    l("ingest.jobs", per(ingest, _.jobs.toDouble), "count")
    l("ingest.bytes_written_per_input_byte",
      per(ingest, _.outputBytes.toDouble) / in.docsBytes, "ratio")

    val build = calls("text_index", "build")
    l("text_index.build_s", in.buildS, "s")
    l("text_index.build_jobs", per(build, _.jobs.toDouble), "count")
    l("text_index.build_cpu_util",
      sum(build).taskCpuNs / 1e9 / (build.map(_.ms).sum / 1e3 * cores), "ratio")
    l("text_index.build_bytes_written", per(build, _.outputBytes.toDouble), "B")

    val commits = calls("text_index", "commit")
    l("text_index.commit_ms", med(commits), "ms")
    l("text_index.commit_jobs", per(commits, _.jobs.toDouble), "count")
    l("text_index.commits_compacted", in.compacted.toDouble, "count")
    l("text_index.bytes_written_per_changed_doc",
      sum(commits).outputBytes.toDouble / in.changedDocs, "B")

    val searches = calls("text_index", Gen.QueryKinds: _*)
    Seq("bm25", "vector", "hybrid", "rerank", "render").foreach(leg =>
      l(s"text_index.${leg}_ms", in.legs(leg), "ms"))
    l("text_index.batch_ms", Stats.median(in.batchMs), "ms")
    l("text_index.jobs_per_search", per(searches, _.jobs.toDouble), "count")
    l("text_index.broadcast_jobs_per_search",
      per(searches, _.broadcastJobs.toDouble), "count")
    l("text_index.tasks_per_search", per(searches, _.tasks.toDouble), "count")
    l("text_index.task_cpu_ms_per_search", per(searches, _.taskCpuNs / 1e6), "ms")
    l("text_index.input_bytes_per_search",
      per(searches, _.inputBytes.toDouble), "B")
    val first = firstReads(searches, commits)
    l("text_index.first_search_after_commit_ms", med(first), "ms")
    l("text_index.first_search_jobs_after_commit", per(first, _.jobs.toDouble), "count")

    val pqServes = calls("knn", "pq_serve")
    l("knn.pq_build_s", in.pqBuildS, "s")
    l("knn.pq_upsert_ms", Stats.median(in.pqUpsertMs), "ms")
    l("knn.pq_serve_ms", med(pqServes), "ms")
    l("knn.pq_jobs_per_serve", per(pqServes, _.jobs.toDouble), "count")
    l("knn.pq_compact_ms", in.pqCompactMs, "ms")

    // the spark layer: every job, then per operation type
    val top = spans.filter(_.parent == 0L)
    spark("spark", sum(top), top.map(_.ms).sum / 1e3)
    Seq("search" -> searches, "batch" -> calls("text_index", "batch"),
      "commit" -> commits, "build" -> build,
      "ingest" -> calls("ingest", "reingest"),
      "pq" -> spans.filter(s => s.layer == "knn" && s.ok)).foreach {
      case (n, ss) =>
        val c = sum(ss)
        l(s"spark.$n.jobs", c.jobs.toDouble, "count")
        l(s"spark.$n.tasks", c.tasks.toDouble, "count")
        l(s"spark.$n.task_cpu_s", c.taskCpuNs / 1e9, "s")
        l(s"spark.$n.job_wait_ms", c.jobWaitMs, "ms")
        l(s"spark.$n.input_bytes", c.inputBytes.toDouble, "B")
    }

    l("caches.tracked", in.tracked.toDouble, "count")
    l("jvm.gc_ms", in.gcMs.toDouble, "ms")
    l("jvm.heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB")

    selfTimes(spans, children)
    l("trace.spans", spans.size.toDouble, "count")
    l("trace.unattributed_jobs", probe.unattributedJobs.get.toDouble, "count")
    l("trace.search_p50_ms", Stats.median(in.searchMs), "ms")
    write(spans)
    out.toSeq.map { case (n, (v, u)) => (n, v, u) }
  }

  private def spark(p: String, c: Counters, wallS: Double): Unit = {
    l(s"$p.jobs", c.jobs.toDouble, "count")
    l(s"$p.stages", c.stages.toDouble, "count")
    l(s"$p.tasks", c.tasks.toDouble, "count")
    l(s"$p.failed_tasks", c.failedTasks.toDouble, "count")
    l(s"$p.task_cpu_s", c.taskCpuNs / 1e9, "s")
    l(s"$p.task_run_s", c.taskRunMs / 1e3, "s")
    l(s"$p.cpu_util", c.taskCpuNs / 1e9 / (wallS * cores), "ratio")
    l(s"$p.job_wait_ms", c.jobWaitMs, "ms")
    l(s"$p.shuffle_read_bytes", c.shuffleRead.toDouble, "B")
    l(s"$p.shuffle_write_bytes", c.shuffleWrite.toDouble, "B")
    l(s"$p.input_bytes", c.inputBytes.toDouble, "B")
    l(s"$p.output_bytes", c.outputBytes.toDouble, "B")
  }

  /** Self time per layer: the part of each span's interval that none
    * of its child spans covers, summed by layer. */
  private def selfTimes(spans: Seq[Span], children: Map[Long, Seq[Span]]): Unit = {
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      var covered = 0L
      var until = s.start
      children.getOrElse(s.id, Nil).sortBy(_.start).foreach { k =>
        val from = math.max(k.start, until)
        if (k.end > from) { covered += k.end - from; until = k.end }
      }
      self(s.layer) += (s.end - s.start - covered) / 1e9
    }
    Seq("bench", "chunker", "ingest", "text_index", "knn")
      .foreach(n => l(s"$n.self_s", self(n), "s"))
  }

  /** The first search that started after each commit ended. */
  private def firstReads(searches: Seq[Span], commits: Seq[Span]): Seq[Span] = {
    val reads = searches.sortBy(_.start)
    commits.map(_.end).sorted.flatMap(t => reads.find(_.start >= t)).distinct
  }

  /** Spans as JSON lines under .kebench/traces/, one per call. */
  private def write(spans: Seq[Span]): Unit = {
    val dir = new java.io.File(new java.io.File(o.work).getParentFile, "traces")
    dir.mkdirs()
    val f = new java.io.File(dir, s"${o.workload}-seed${o.seed}.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":${Json.str(s.req)},""" +
        s""""name":${Json.str(s.layer + "." + s.op)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"ok":${s.ok},""" +
        s""""spark":${probe.own(s.id).toJson}}""")
    } finally w.close()
    notes += s"trace: ${spans.size} spans written to ${f.getPath}"
  }
}
