package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import graft.operators.{BatchFs, GraphRank, Overlap, ProbeShim}

/** `Overlap` runs independent chains concurrently; its sequential path
  * (width 1) is the reference. The edge-log build and wave appends are
  * where two batch commits (the edge log and the MinHash admission,
  * separate lease scopes under one dir) run at once, so both widths
  * must leave identical logs and markers. */
class OverlapSpec extends SparkSpec {

  private def runAt(width: Int): (Seq[String], Seq[String], Seq[String], Seq[String]) = {
    val corpus = graft.sources.Ingest.corpusFromDocuments(spark, sfSmall)
    val dir = tmpDir(s"overlap-w$width-")
    val saved = Overlap.width
    ProbeShim.setOverlapWidth(width)
    try {
      GraphRank.saveWithEdges(corpus.filter(col("id") % 3 === 0), dir)
      Seq(1L, 2L).foreach { b =>
        GraphRank.appendEdgesBatch(spark, dir, corpus.filter(col("id") % 3 === b), b)
      }
    } finally ProbeShim.setOverlapWidth(saved)
    def rows(sub: String): Seq[String] =
      spark.read.parquet(s"$dir/$sub").collect().map(_.toString).toSeq.sorted
    val markerDir = Paths.get(dir, "_committed", BatchFs.MarkerSchemeVersion)
    val markers = BatchFs.children(markerDir).map { m =>
      s"${m.getFileName}=${new String(Files.readAllBytes(m), "UTF-8")}"
    }.sorted
    (rows("edges"), rows("bands"), rows("docs"), markers)
  }

  test("saveWithEdges + two appendEdgesBatch waves: width 4 equals width 1") {
    val (edges1, bands1, docs1, markers1) = runAt(1)
    val (edges4, bands4, docs4, markers4) = runAt(4)
    assert(edges1.nonEmpty && bands1.nonEmpty && docs1.nonEmpty)
    assert(markers1.map(_.takeWhile(_ != '=')) == Seq("1", "2", "edges-1", "edges-2"))
    assert(edges4 == edges1, "edge log differs between overlapped and sequential runs")
    assert(bands4 == bands1, "band rows differ between overlapped and sequential runs")
    assert(docs4 == docs1, "doc rows differ between overlapped and sequential runs")
    assert(markers4 == markers1, "marker sets differ between overlapped and sequential runs")
  }
}
