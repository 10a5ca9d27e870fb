package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col, sum}
import graft.functions.{l2sq, nearest_list}
import graft.operators.{Dedup, IvfIndex}

/** Per-layer measurement: span helpers the workloads call, the layer
  * probes a traced run makes after its timed rounds, and the per-layer
  * metrics derived from the spans. Every traced run reports the same
  * metric names; a layer the workload never calls reads 0. */
object Layers {
  /** Task slots of the benchmark's `local[2]` session. */
  val Slots = 2

  def hits(rows: Array[Row]): Seq[Exact.Hit] = rows.map(x => (x.getLong(0), x.getDouble(1))).toSeq

  /** Files and bytes under `dir`, on the open span (traced rounds only). */
  def traceDir(r: Run, dir: String): Unit =
    if (r.tracer.active) {
      val (files, bytes) = Host.dirStats(dir)
      r.tracer.attr("files", files.toDouble); r.tracer.attr("bytes", bytes.toDouble)
    }

  /** Runs a write into `dir` and, when traced, records the files it added
    * and the rows it wrote on the open span. */
  def countingFiles(r: Run, dir: String, rows: Long)(body: => Long): Long =
    if (!r.tracer.active) body
    else {
      val before = Host.dirStats(dir)._1
      val out = body
      r.tracer.attr("files", (Host.dirStats(dir)._1 - before).toDouble)
      r.tracer.attr("rows", rows.toDouble)
      out
    }

  /** Standalone layer calls of a traced run, made after the timed rounds
    * so they do not change the rounds' timings: kernel throughput of the
    * public `l2sq` and `nearest_list` columns over cached benchmark-made
    * frames, the driver-side `probeLists`, `assignLists` over the
    * workload's corpus, and MinHash signatures over its documents. */
  def probes(r: Run, vecs: Array[Array[Float]], index: Option[IvfIndex.Index],
             vecDf: DataFrame, docs: Option[DataFrame]): Unit = {
    val spark = r.spark
    import spark.implicits._
    val left = vecs.take(4000).toSeq.map(Tuple1(_)).toDF("a").cache()
    val right = vecs.takeRight(500).toSeq.map(Tuple1(_)).toDF("b").cache()
    left.count(); right.count()
    val pairs = left.count() * right.count()
    (0 until 3).foreach { _ =>
      r.op("functions.l2sq") {
        left.crossJoin(broadcast(right)).select(sum(l2sq(col("a"), col("b")))).collect()
        r.tracer.attr("pairs", pairs.toDouble)
      }
    }
    val cents = vecs.take(64)
    val rows = Iterator.continually(vecs.toSeq).flatten.take(100000).map(Tuple1(_)).toSeq.toDF("emb").cache()
    rows.count()
    (0 until 3).foreach { _ =>
      r.op("functions.nearest_list") {
        rows.select(sum(nearest_list(col("emb"), cents))).collect()
        r.tracer.attr("rows", 100000.0)
      }
    }
    Seq(left, right, rows).foreach(_.unpersist())

    index.foreach { idx =>
      IvfIndex.probeLists(idx, vecs(0), 8) // collects the centroids once
      val us = vecs.take(200).map { q =>
        val t = System.nanoTime(); IvfIndex.probeLists(idx, q, 8); (System.nanoTime() - t) / 1e3
      }
      r.op("IvfIndex.probeLists")(r.tracer.attr("us", Stats.median(us.toSeq)))
      r.op("IvfIndex.assignLists")(IvfIndex.assignLists(idx, vecDf, "id", "emb").count())
    }
    docs.foreach { d =>
      val n = d.count()
      r.op("Dedup.minhashSignaturesCorpus") {
        r.tracer.attr("docs", n.toDouble)
        Dedup.minhashSignaturesCorpus(d).count()
      }
    }
  }

  /** (name, unit, value) of every per-layer metric. */
  def metrics(r: Run): Seq[(String, String, Double)] = {
    val t = r.tracer
    def of(n: String) = t.spans.filter(_.name == n).toSeq
    def med(n: String)(f: Span => Double) = Stats.median(of(n).map(f))
    def s(n: String) = med(n)(_.wallNs / 1e9)
    def ms(n: String) = med(n)(_.wallNs / 1e6)
    def attr(n: String, k: String) = med(n)(_.attrs.getOrElse(k, 0.0))
    def cnt(n: String)(f: Counters => Double) = med(n)(sp => f(sp.counters))
    def rate(n: String, k: String) = {
      val sp = of(n); val wall = sp.map(_.wallNs).sum / 1e9
      if (wall > 0) sp.map(_.attrs.getOrElse(k, 0.0)).sum / wall else 0.0
    }
    val traced = r.rounds.filter(_.traced).map(_.wallS).toSeq
    val untraced = r.untracedRounds.map(_.wallS)
    val search = "IvfIndex.search"
    val all = "IvfIndex.searchAll"
    val append = "IvfIndex.appendBatch"
    Seq(
      ("functions.l2sq.pairs_per_s", "pairs/s", rate("functions.l2sq", "pairs")),
      ("functions.nearest_list.rows_per_s", "rows/s", rate("functions.nearest_list", "rows")),
      ("IvfIndex.build.s", "s", s("IvfIndex.build")),
      ("IvfIndex.build.jobs", "count", cnt("IvfIndex.build")(_.jobs.toDouble)),
      ("IvfIndex.build.executor_cpu_s", "s", cnt("IvfIndex.build")(_.cpuNs / 1e9)),
      ("IvfIndex.assignLists.s", "s", s("IvfIndex.assignLists")),
      ("IvfIndex.save.s", "s", s("IvfIndex.save")),
      ("IvfIndex.save.files_written", "count", attr("IvfIndex.save", "files")),
      ("IvfIndex.save.bytes_written", "bytes", attr("IvfIndex.save", "bytes")),
      ("IvfIndex.probeLists.us", "us", attr("IvfIndex.probeLists", "us")),
      ("IvfIndex.search.ms", "ms", ms(search)),
      ("IvfIndex.search.jobs", "count", cnt(search)(_.jobs.toDouble)),
      ("IvfIndex.search.tasks", "count", cnt(search)(_.tasks.toDouble)),
      ("IvfIndex.search.executor_ms", "ms", cnt(search)(_.runMs.toDouble)),
      ("IvfIndex.search.driver_share", "ratio",
        med(search)(sp => 1.0 - sp.counters.runMs / (sp.wallNs / 1e6 * Slots))),
      ("IvfIndex.search.rows_scanned", "rows", cnt(search)(_.inRecords.toDouble)),
      ("IvfIndex.search.bytes_read", "bytes", cnt(search)(_.inBytes.toDouble)),
      ("IvfIndex.searchAll.s", "s", s(all)),
      ("IvfIndex.searchAll.tasks", "count", cnt(all)(_.tasks.toDouble)),
      ("IvfIndex.searchAll.rows_scanned", "rows", cnt(all)(_.inRecords.toDouble)),
      ("IvfIndex.searchAll.shuffle_bytes", "bytes", cnt(all)(_.shWriteBytes.toDouble)),
      ("IvfIndex.searchAll.shuffle_records", "rows", cnt(all)(_.shWriteRecords.toDouble)),
      ("IvfIndex.appendBatch.s", "s", s(append)),
      ("IvfIndex.appendBatch.jobs", "count", cnt(append)(_.jobs.toDouble)),
      ("IvfIndex.appendBatch.tasks", "count", cnt(append)(_.tasks.toDouble)),
      ("IvfIndex.appendBatch.files_written", "count", attr(append, "files")),
      ("IvfIndex.appendBatch.bytes_written_per_row", "bytes",
        med(append)(sp => sp.counters.outBytes / sp.attrs.getOrElse("rows", 1.0))),
      ("IvfIndex.removeIds.s", "s", s("IvfIndex.removeIds")),
      ("IvfIndex.compactTombstones.s", "s", s("IvfIndex.compactTombstones")),
      ("IvfIndex.compactTombstones.bytes_rewritten", "bytes",
        cnt("IvfIndex.compactTombstones")(_.outBytes.toDouble)),
      ("index.files", "count", attr("round", "index_files")),
      ("index.bytes", "bytes", r.indexDirs.map(d => Host.dirStats(d)._2).sum.toDouble),
      ("MinhashIndex.save.s", "s", s("MinhashIndex.save")),
      ("MinhashIndex.probe.s", "s", s("MinhashIndex.probe")),
      ("MinhashIndex.probe.shuffle_bytes", "bytes", cnt("MinhashIndex.probe")(_.shWriteBytes.toDouble)),
      ("MinhashIndex.probe.pairs_returned", "count", attr("MinhashIndex.probe", "pairs")),
      ("MinhashIndex.appendBatch.s", "s", s("MinhashIndex.appendBatch")),
      ("MinhashIndex.appendBatch.files_written", "count", attr("MinhashIndex.appendBatch", "files")),
      ("Dedup.minhashSignaturesCorpus.docs_per_s", "docs/s", rate("Dedup.minhashSignaturesCorpus", "docs")),
      ("Dedup.dedupMinhashCorpus.s", "s", s("Dedup.dedupMinhashCorpus")),
      ("Dedup.dedupMinhashCorpus.pairs_returned", "count", attr("Dedup.dedupMinhashCorpus", "pairs")),
      ("Clustering.connectedComponents.s", "s", s("Clustering.connectedComponents")),
      ("Clustering.connectedComponents.jobs", "count",
        cnt("Clustering.connectedComponents")(_.jobs.toDouble)),
      ("Clustering.connectedComponents.edges_in", "count", attr("Clustering.connectedComponents", "edges")),
      ("Clustering.assign.s", "s", s("Clustering.assign")),
      ("jvm.gc_s", "s", r.gcS),
      ("jvm.jit_s", "s", r.jitS),
      ("trace.round_s", "s", Stats.median(traced)),
      ("trace.overhead", "ratio",
        if (traced.isEmpty || untraced.isEmpty) 0.0 else Stats.median(traced) / Stats.median(untraced)),
      ("trace.spans", "count", t.spans.size.toDouble)
    )
  }
}
