package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import graft.operators.IvfIndex

/** [[StateDir]] keys helper state on the input's canonical path: two
  * inputs that share a basename keep apart, two spellings of one input
  * share, and no source line names one machine's checkout as the root. */
class StateDirSpec extends SparkSpec {
  // <tmp>/a/sfX holds sf0.001's embeddings, <tmp>/b/sfX only the even ids
  private lazy val (sfA, sfB) = {
    val root = tmpDir("statedir")
    val (a, b) = (s"$root/a/sfX", s"$root/b/sfX")
    Files.createDirectories(Paths.get(a))
    Files.copy(Paths.get(s"$sfSmall/embeddings.parquet"),
      Paths.get(s"$a/embeddings.parquet"))
    Tables.embeddings(spark, sfSmall).filter(col("vec_id") % 2 === 0)
      .write.parquet(s"$b/embeddings.parquet")
    (a, b)
  }

  test("two inputs sharing a basename get distinct dirs under target/") {
    val (da, db) = (StateDir.of("ivf-index", sfA, "nlist4"),
      StateDir.of("ivf-index", sfB, "nlist4"))
    assert(da != db)
    val family = Paths.get("target", "ivf-index").toAbsolutePath
    Seq(da, db).foreach { d =>
      assert(Paths.get(d).getParent == family, d)
      assert(Paths.get(d).getFileName.toString.matches("sfX-[0-9a-f]+-nlist4"), d)
    }
  }

  test("a relative and an absolute spelling of one input get the same dir") {
    val rel = Paths.get("").toAbsolutePath.relativize(Paths.get(sfA)).toString
    assert(!Paths.get(rel).isAbsolute)
    assert(StateDir.of("ivf-index", rel, "nlist4") ==
      StateDir.of("ivf-index", sfA, "nlist4"))
    assert(StateDir.of("pca-moments", s"$sfA/") ==
      StateDir.of("pca-moments", s"$sfA/../sfX"))
  }

  test("persisted IVF indexes over same-named inputs each answer as their own build") {
    val q = Tables.queryVector(spark, sfA, 0L)
    def hits(index: IvfIndex.Index): Seq[(Long, Double)] =
      IvfIndex.search(index, q, 10, 2).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // both saves happen before either persisted index is read, so a
    // shared directory would leave the first one reading the second's
    val pa = IvfIndex.persistedForEmbeddings(spark, sfA, 4)
    val pb = IvfIndex.persistedForEmbeddings(spark, sfB, 4)
    val (ha, hb) = (hits(pa), hits(pb))
    assert(ha == hits(IvfIndex.forEmbeddings(spark, sfA, 4)))
    assert(hb == hits(IvfIndex.forEmbeddings(spark, sfB, 4)))
    assert(ha != hb, "the two inputs must answer differently for the check to bite")
  }

  test("no source line outside a comment names a machine-specific checkout") {
    // built from parts so this line does not match itself
    val needle = Seq("", "root", "repo").mkString("/")
    val files = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      val walk = Files.walk(Paths.get(d))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.exists(_.endsWith("StateDir.scala")) &&
      files.exists(_.endsWith("StateDirSpec.scala")))
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      if line.contains(needle) &&
        !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
    } yield s"$f:${i + 1}: $t"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
