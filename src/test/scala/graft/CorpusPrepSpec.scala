package graft

import graft.operators.CorpusPrep

/** PII scrubbing and context-window chunking over planted documents. */
class CorpusPrepSpec extends SparkSpec {
  import spark.implicits._

  test("piiRedact: plants are counted and replaced, order email->ssn->ip") {
    val corpus = Seq(
      (0L, "reach alice@example.com or bob.smith+x@sub.domain.org today"),
      (1L, "server 10.0.0.1 and 192.168.255.3 report ssn 123-45-6789"),
      (2L, "clean text with no identifiers at all"),
      (3L, "mixed a@b.io at 8.8.8.8 ssn 000-00-0000")
    ).toDF("id", "sentence")
    val r = CorpusPrep.piiRedactCorpus(corpus).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4)))).toMap
    assert(r(0L) == ((2L, 0L, 0L, "reach <EMAIL> or <EMAIL> today")))
    assert(r(1L) == ((0L, 1L, 2L, "server <IP> and <IP> report ssn <SSN>")))
    assert(r(2L) == ((0L, 0L, 0L, "clean text with no identifiers at all")))
    assert(r(3L) == ((1L, 1L, 1L, "mixed <EMAIL> at <IP> ssn <SSN>")))
  }

  test("piiRedact: version-like digit runs are not IPs (word boundaries hold)") {
    val corpus = Seq((0L, "build 1234.5.6.7890 is not an address")).toDF("id", "sentence")
    val row = CorpusPrep.piiRedactCorpus(corpus).collect().head
    assert(row.getLong(3) == 0L, "no IPv4 should match inside longer digit runs")
    assert(row.getString(4) == "build 1234.5.6.7890 is not an address")
  }

  test("docChunks: fixed windows cover the token stream exactly once") {
    val seventy = (1 to 70).map(i => s"t$i").mkString(" ")
    val corpus = Seq((0L, seventy), (1L, "one two"), (2L, "...")).toDF("id", "sentence")
    val rows = CorpusPrep.docChunksCorpus(corpus, chunkSize = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc 2 has zero tokens -> no chunks at all
    assert(!rows.exists(_._1 == 2L))
    val d0 = rows.filter(_._1 == 0L).sortBy(_._2)
    assert(d0.map(c => (c._2, c._3)).toSeq == Seq((0L, 32L), (1L, 32L), (2L, 6L)))
    // reassembling the chunks reproduces the normalized token stream
    assert(d0.map(_._4).mkString(" ") == seventy)
    val d1 = rows.filter(_._1 == 1L)
    assert(d1.map(c => (c._2, c._3, c._4)).toSeq == Seq((0L, 2L, "one two")))
  }

  test("packSequences: offsets equal the serial cumulative sum across blocks") {
    // blockSize=3 forces multiple blocks over 10 docs, exercising the
    // block-local window + driver prefix join; compare to the serial spec
    val corpus = (0L until 10L).map(i =>
      (i * 7L % 10L, ("tok " * (i + 1).toInt).trim)).toDF("id", "sentence")
    val got = CorpusPrep.packSequencesCorpus(corpus, seqLen = 5L, blockSize = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val serial = got.sortBy(_._1).foldLeft((0L, Vector.empty[(Long, Long, Long, Long)])) {
      case ((off, acc), (id, n, _, _)) =>
        (off + n, acc :+ ((id, n, off, off / 5L)))
    }._2
    assert(got.toSeq == serial.toSeq,
      "two-phase prefix sum must equal the serial cumulative sum")
    // offsets tile the stream: each doc starts where the previous ended
    val sorted = got.sortBy(_._1)
    sorted.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 == a._3 + a._2)
    }
  }

  test("packChunks: token conservation, dense full interior chunks, cut recount") {
    val corpus = (0L until 12L).map(i =>
      (i, ("tok " * (3 * i + 1).toInt).trim)).toDF("id", "sentence")
    val seqLen = 16L
    val chunks = CorpusPrep.packChunksCorpus(corpus, seqLen)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val counts = (0L until 12L).map(i => 3 * i + 1)
    val total = counts.sum
    assert(chunks.map(_._4).sum == total, "every token lands in exactly one chunk")
    val maxChunk = (total - 1) / seqLen
    assert(chunks.map(_._1).toSeq == (0L to maxChunk), "chunk ids are dense from 0")
    chunks.dropRight(1).foreach { case (c, _, _, filled) =>
      assert(filled == seqLen, s"interior chunk $c must be full")
    }
    assert(chunks.last._4 == total - maxChunk * seqLen)
    // recount contributing and cut docs per chunk from serial offsets
    var off = 0L
    val nDocs = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val nCut = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    counts.foreach { n =>
      val cf = off / seqLen; val cl = (off + n - 1) / seqLen
      (cf to cl).foreach { c =>
        nDocs(c) += 1L
        if (off < c * seqLen || off + n > (c + 1) * seqLen) nCut(c) += 1L
      }
      off += n
    }
    chunks.foreach { case (c, d, cut, _) =>
      assert(d == nDocs(c) && cut == nCut(c), s"chunk $c doc/cut accounting")
    }
  }

  test("curationDecisions: stage booleans agree with the standalone operators") {
    import graft.operators.{Dedup, Sampling}
    val dec = CorpusPrep.curationDecisions(spark, sfSmall).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getString(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(dec.size == 500)
    // split column must equal sample_split's assignment exactly
    val splits = Sampling.sampleSplit(spark, sfSmall).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dec.forall { case (id, d) => d._3 == splits(id) })
    // dedup_kept must equal dedup_exact's kept flag
    val kept = Dedup.dedupExact(spark, sfSmall).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(dec.forall { case (id, d) => d._2 == kept(id) })
    // final_keep is the conjunction, never true when a stage dropped
    assert(dec.values.forall(d => d._5 == (d._1 && d._2 && d._4)))
  }

  test("packSequences/docChunks: empty corpus degenerates to empty, not error") {
    val empty = Seq.empty[(Long, String)].toDF("id", "sentence")
    assert(CorpusPrep.packSequencesCorpus(empty).collect().isEmpty)
    assert(CorpusPrep.docChunksCorpus(empty).collect().isEmpty)
    assert(CorpusPrep.piiRedactCorpus(empty).collect().isEmpty)
  }

  test("docChunks: chunkSize=1 degenerates to one token per row") {
    val corpus = Seq((7L, "a b c")).toDF("id", "sentence")
    val rows = CorpusPrep.docChunksCorpus(corpus, chunkSize = 1)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.toSeq == Seq((0L, 1L, "a"), (1L, 1L, "b"), (2L, 1L, "c")))
  }
}
