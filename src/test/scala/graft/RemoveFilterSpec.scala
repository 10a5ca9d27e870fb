package graft

import org.apache.spark.sql.functions._
import graft.operators.IvfIndex

/** Contracts for the round-13 FAISS lifecycle additions: filtered
  * search (`SearchParameters.sel` / IDSelector), `remove_ids` as a
  * tombstone log + read-side anti-join + physical compaction, and
  * `reconstruct` (id → stored vector, bit-exact for IVFFlat). */
class RemoveFilterSpec extends SparkSpec {

  private lazy val corpus: Array[(Long, Array[Float], Int)] =
    Tables.embeddings(spark, sfSmall)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))

  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  /** Brute-force filtered top-k over ids passing `keep`. */
  private def exactFiltered(q: Array[Float], qid: Long, k: Int,
                            keep: ((Long, Array[Float], Int)) => Boolean): Seq[Long] =
    corpus.filter(t => t._1 != qid && keep(t))
      .map { case (id, v, _) => (id, l2(q, v)) }
      .sortBy { case (id, d) => (d, id) }
      .take(k).map(_._1).toSeq

  private lazy val index = IvfIndex.forEmbeddings(spark, sfSmall, nlist = 4)
  private lazy val (qid, q) = (corpus(0)._1, corpus(0)._2)

  // ---- filtered search --------------------------------------------------

  test("searchFiltered with an id-range selector at nprobe = nlist equals the exact filtered scan") {
    val got = IvfIndex.searchFiltered(index, q, k = 10, nprobe = 4,
        sel = col("id") >= 100L && col("id") < 400L, excludeId = Some(qid))
      .collect().map(_.getLong(0)).toSeq
    assert(got == exactFiltered(q, qid, 10, t => t._1 >= 100L && t._1 < 400L))
  }

  test("searchFilteredBy (metadata semi-join path) at nprobe = nlist equals the exact label-filtered scan") {
    val got = IvfIndex.searchFilteredBy(index, q, k = 10, nprobe = 4,
        meta = Tables.embeddings(spark, sfSmall), metaIdCol = "vec_id",
        pred = col("label") === 1, excludeId = Some(qid))
      .collect().map(_.getLong(0)).toSeq
    assert(got == exactFiltered(q, qid, 10, _._3 == 1))
  }

  test("pruned filtered search returns a subset of the filtered corpus with exact distances") {
    val rows = IvfIndex.searchFiltered(index, q, k = 10, nprobe = 2,
        sel = col("id") % 2L === 0L, excludeId = Some(qid))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val byId = corpus.map(t => t._1 -> t._2).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (id, d) =>
      assert(id % 2 == 0 && id != qid, s"selector violated for id $id")
      assert(d == l2(q, byId(id)), s"distance not exact for id $id")
    }
  }

  test("id-range selector pushes to the persisted postings scan alongside the partition pruning") {
    // the "filtered search reads no more bytes than unfiltered" claim
    // (IvfIndex.searchFiltered scaladoc): an IDSelectorRange over a
    // persisted index must reach the parquet scan BOTH as list_id
    // PartitionFilters (nprobe pruning) and as a pushed data filter on
    // the id column (selector pruning)
    val persisted = IvfIndex.persistedForEmbeddings(spark, sfSmall, nlist = 4)
    val plan = IvfIndex.searchFiltered(persisted, q, k = 10, nprobe = 2,
        sel = col("id") >= 100L && col("id") < 400L, excludeId = Some(qid))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [list_id"),
      s"expected list_id PartitionFilters in:\n$plan")
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThanOrEqual(id,100)"),
      s"expected the id-range selector in PushedFilters in:\n$plan")
  }

  // ---- remove_ids lifecycle ----------------------------------------------

  private def freshIndexDir(): String = {
    val dir = tmpDir("remove-spec-")
    val idx = IvfIndex.build(Tables.embeddings(spark, sfSmall),
      "vec_id", "embedding", nlist = 4)
    IvfIndex.save(idx, dir)
    idx.postings.unpersist(blocking = false)
    dir
  }

  test("removeIds tombstones live ids, counts them once, and loadLive excludes them") {
    val dir = freshIndexDir()
    val emb = Tables.embeddings(spark, sfSmall)
    val toRemove = emb.filter(col("vec_id") % 10 === 3)
    val expected = corpus.count(_._1 % 10 == 3)
    assert(IvfIndex.removeIds(spark, dir, toRemove, "vec_id") == expected)
    // idempotent: a second removal of the same set tombstones nothing new
    assert(IvfIndex.removeIds(spark, dir, toRemove, "vec_id") == 0L)
    // absent ids count zero (FAISS ignores unknown ids)
    val ghost = spark.range(1000000, 1000005).withColumnRenamed("id", "vec_id")
    assert(IvfIndex.removeIds(spark, dir, ghost, "vec_id") == 0L)
    val live = IvfIndex.loadLive(spark, dir)
    assert(live.postings.count() == corpus.length - expected)
    val got = IvfIndex.search(live, q, k = 10, nprobe = 4, excludeId = Some(qid))
      .collect().map(_.getLong(0)).toSeq
    assert(got == exactFiltered(q, qid, 10, _._1 % 10 != 3))
    assert(got.forall(_ % 10 != 3))
  }

  test("compactTombstones physically drops tombstoned rows, clears the log, and preserves search results") {
    val dir = freshIndexDir()
    val emb = Tables.embeddings(spark, sfSmall)
    IvfIndex.removeIds(spark, dir, emb.filter(col("vec_id") % 10 === 3), "vec_id")
    val expected = corpus.count(_._1 % 10 == 3)
    assert(IvfIndex.compactTombstones(spark, dir) == expected.toLong)
    // log cleared: nothing uncommitted remained, so the new generation
    // carries no tombstones directory at all
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/tombstones")))
    // physical: the raw postings (no anti-join) already exclude them
    val raw = IvfIndex.load(spark, dir)
    assert(raw.postings.count() == corpus.length - expected)
    val got = IvfIndex.search(raw, q, k = 10, nprobe = 4, excludeId = Some(qid))
      .collect().map(_.getLong(0)).toSeq
    assert(got == exactFiltered(q, qid, 10, _._1 % 10 != 3))
    // compacting again with no log is a no-op
    assert(IvfIndex.compactTombstones(spark, dir) == 0L)
  }

  test("compaction retains the tombstone log and carries the file while an uncommitted batch exists") {
    import java.nio.file.{Files, Paths}
    val dir = freshIndexDir()
    val emb = Tables.embeddings(spark, sfSmall)
    IvfIndex.removeIds(spark, dir, emb.filter(col("vec_id") < 5), "vec_id")
    // simulate a crashed append: a b-tagged parquet file with no marker
    val lists = graft.operators.BatchFs.children(Paths.get(s"$dir/postings"))
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("list_id="))
    val src = graft.operators.BatchFs.children(lists.head)
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val fake = lists.head.resolve("b99-part-00000.parquet")
    Files.copy(src, fake)
    val dropped = IvfIndex.compactTombstones(spark, dir)
    assert(dropped >= 5L) // the 5 tombstoned ids (also present in the copy)
    // uncommitted batch carried into the new generation, log retained
    val carried = graft.operators.BatchFs.children(Paths.get(s"$dir/postings"))
      .filter(Files.isDirectory(_))
      .flatMap(d => graft.operators.BatchFs.children(d))
      .filter(_.getFileName.toString.startsWith("b99-"))
    assert(carried.nonEmpty, "uncommitted batch file must survive compaction")
    assert(Files.exists(Paths.get(s"$dir/tombstones")),
      "tombstone log must be retained while uncommitted batches exist")
    // and the live view still excludes the removed ids
    val got = IvfIndex.search(IvfIndex.loadLive(spark, dir), q, k = 10,
        nprobe = 4, excludeId = Some(qid))
      .collect().map(_.getLong(0)).toSeq
    assert(got.forall(_ >= 5L))
  }

  // ---- merge_from ----------------------------------------------------------

  test("mergeFrom moves every vector once, empties the other index, and carries tombstones") {
    import java.nio.file.Paths
    val emb = Tables.embeddings(spark, sfSmall)
    val full = IvfIndex.build(emb, "vec_id", "embedding", nlist = 4)
    val dirA = tmpDir("merge-a-")
    val dirB = tmpDir("merge-b-")
    IvfIndex.save(IvfIndex.Index(full.centroids,
      full.postings.filter(col("id") % 2 === 0)), dirA)
    IvfIndex.save(IvfIndex.Index(full.centroids,
      full.postings.filter(col("id") % 2 === 1)), dirB)
    full.postings.unpersist(blocking = false)
    // a removal on the other side must stay visible after the merge
    IvfIndex.removeIds(spark, dirB,
      emb.filter(col("vec_id") === 1L), "vec_id")
    val nOdd = corpus.count(_._1 % 2 == 1)
    assert(IvfIndex.mergeFrom(spark, dirA, dirB) == nOdd.toLong)
    // other emptied but still a valid directory shell
    assert(graft.operators.BatchFs.children(Paths.get(s"$dirB/postings")).isEmpty)
    val live = IvfIndex.loadLive(spark, dirA)
    assert(live.postings.count() == corpus.length - 1) // minus the tombstoned id
    assert(live.postings.filter(col("id") === 1L).isEmpty)
    val got = IvfIndex.search(live, q, k = 10, nprobe = 4, excludeId = Some(qid))
      .collect().map(_.getLong(0)).toSeq
    assert(got == exactFiltered(q, qid, 10, _._1 != 1L))
  }

  test("mergeFrom refuses indexes with differing quantizers") {
    val emb = Tables.embeddings(spark, sfSmall)
    val a = IvfIndex.build(emb, "vec_id", "embedding", nlist = 4)
    val b = IvfIndex.build(emb, "vec_id", "embedding", nlist = 4, seed = 7L)
    val dirA = tmpDir("merge-qa-")
    val dirB = tmpDir("merge-qb-")
    IvfIndex.save(a, dirA); IvfIndex.save(b, dirB)
    a.postings.unpersist(blocking = false)
    b.postings.unpersist(blocking = false)
    val e = intercept[IllegalArgumentException] {
      IvfIndex.mergeFrom(spark, dirA, dirB)
    }
    assert(e.getMessage.contains("bit-identical quantizers"))
  }

  // ---- reconstruct --------------------------------------------------------

  test("reconstruct returns the stored vectors bit-exactly with their list assignment") {
    val ids = spark.range(0, 10).withColumnRenamed("id", "vec_id")
    val got = IvfIndex.reconstruct(index, ids, "vec_id")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getSeq[Float](2).toArray)).toMap
    assert(got.size == 10)
    val assigned = index.postings.filter(col("id") < 10)
      .select("id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byId = corpus.map(t => t._1 -> t._2).toMap
    got.foreach { case (id, (lid, vec)) =>
      assert(lid == assigned(id))
      assert(vec.sameElements(byId(id)), s"reconstruction not bit-exact for id $id")
    }
  }
}
