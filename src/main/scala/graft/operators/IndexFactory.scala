package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** FAISS `index_factory` string surface — the constructor a reference
  * user actually holds: the reference builds its index with the
  * constructor form (`IndexIVFFlat(quantizer, dim, nlist)`,
  * /root/reference/app.py:47-48), but every FAISS tutorial and most
  * production configs spell the same thing `index_factory(d,
  * "IVF100,Flat")`. This object parses the factory grammar subset the
  * engine implements and dispatches each spec to the corresponding
  * registered search family, so a config string that drives FAISS
  * drives this engine unchanged.
  *
  * Grammar (comma-separated, left to right):
  * {{{
  *   factory  := [ "IDMap" "," ] [ pre "," ] [ "IVF" nlist "," ] enc
  *   pre      := "PCA" dOut | "OPQ" m
  *   enc      := "Flat" | "PQ" m [ "x" nbits ] | "SQ8" | "LSH"
  *             |  "HNSW" m
  * }}}
  *
  * Engine mapping (declared deviations in [brackets]):
  *  - `Flat`            → exact scan ([[VectorSearchOps.knnExactL2]])
  *  - `IVF{n},Flat`     → [[IvfIndex]]
  *  - `PQ{m}[x{b}]`     → [[Pq.searchPq]] [bare `PQ{m}` means nbits=8
  *                        (256 centers), matching FAISS
  *                        index_factory's default; `x4` is the
  *                        explicit 16-center opt-in]
  *  - `IVF{n},PQ{m}`    → [[Pq.ivfSearchPq]] (residual encoding, as
  *                        FAISS IndexIVFPQ)
  *  - `PCA{d},IVF{n},PQ{m}` → [[ChainedIndex]] [the engine's PCA
  *                        pre-transform composes an OPQ-lite rotation
  *                        into the projection matrix — the FAISS
  *                        production shape `OPQMatrix → IVFPQ` is part
  *                        of the PCA path here, not a separate stage]
  *  - `SQ8`             → [[Quantization.knnQuantized]] (int8)
  *  - `LSH`             → [[Quantization.knnBinary]] (1-bit sign
  *                        sketch + Hamming, as FAISS IndexLSH)
  *  - `HNSW{m}`         → [[GraphAnn]] beam search over an m-degree
  *                        NN-descent k-NN graph [the distributed
  *                        HNSW-family form — see GraphAnn's scaladoc
  *                        for the adjudication; m maps to the graph
  *                        out-degree like FAISS's HNSW M]
  *  - `IDMap,` prefix   → accepted no-op [ids are first-class Long
  *                        columns in every index here; FAISS needs the
  *                        wrapper because its internal ids are dense]
  *
  * A component that parses but has no engine mapping (bare `OPQ{m}`
  * prefix) fails at DISPATCH with the supported-set message — parse
  * errors name the offending token like FAISS's
  * `could not parse parameters`.
  */
object IndexFactory {

  sealed trait Component { def kind: String; def param: Int }
  final case class PcaPre(dOut: Int) extends Component { val kind = "PCA"; def param = dOut }
  final case class OpqPre(m: Int) extends Component { val kind = "OPQ"; def param = m }
  final case class Ivf(nlist: Int) extends Component { val kind = "IVF"; def param = nlist }
  case object Flat extends Component { val kind = "Flat"; val param = 0 }
  final case class PqEnc(m: Int, nbits: Int) extends Component { val kind = "PQ"; def param = m }
  case object Sq8 extends Component { val kind = "SQ8"; val param = 0 }
  case object Lsh extends Component { val kind = "LSH"; val param = 0 }
  final case class HnswEnc(m: Int) extends Component { val kind = "HNSW"; def param = m }
  case object IdMap extends Component { val kind = "IDMap"; val param = 0 }

  /** A parsed factory string: optional IDMap wrapper, optional
    * pre-transform, optional IVF coarse layer, terminal encoding. */
  final case class Plan(idMap: Boolean, pre: Option[Component],
                        ivf: Option[Ivf], enc: Component) {
    def components: Seq[Component] =
      (if (idMap) Seq(IdMap) else Nil) ++ pre.toSeq ++ ivf.toSeq :+ enc
  }

  private val PcaRe = "^PCA(\\d+)$".r
  private val OpqRe = "^OPQ(\\d+)$".r
  private val IvfRe = "^IVF(\\d+)$".r
  private val PqRe = "^PQ(\\d+)(?:x(\\d+))?$".r
  private val HnswRe = "^HNSW(\\d+)$".r

  def parse(s: String): Plan = {
    val toks = s.split(",").map(_.trim).toList
    require(toks.nonEmpty && toks.forall(_.nonEmpty),
      s"index_factory: could not parse '$s' (empty component)")
    var rest = toks
    val idMap = rest.headOption.contains("IDMap")
    if (idMap) rest = rest.tail
    val pre: Option[Component] = rest.headOption.flatMap {
      case PcaRe(d) => Some(PcaPre(d.toInt))
      case OpqRe(m) => Some(OpqPre(m.toInt))
      case _        => None
    }
    if (pre.isDefined) rest = rest.tail
    val ivf: Option[Ivf] = rest.headOption.flatMap {
      case IvfRe(n) => Some(Ivf(n.toInt))
      case _        => None
    }
    if (ivf.isDefined) rest = rest.tail
    val enc: Component = rest match {
      case tok :: Nil => tok match {
        case "Flat"      => Flat
        case "SQ8"       => Sq8
        case "LSH"       => Lsh
        case HnswRe(m)   =>
          require(m.toInt > 0,
            s"index_factory: HNSW m must be positive in '$s'")
          HnswEnc(m.toInt)
        case PqRe(m, b)  =>
          // FAISS's index_factory default for bare PQ{m} is nbits=8
          // (256-center codebooks); x4 is the explicit coarse opt-in.
          val nbits = Option(b).map(_.toInt).getOrElse(8)
          require(nbits == 4 || nbits == 8,
            s"index_factory: PQ nbits must be 4 or 8, got $nbits in '$s'")
          require(m.toInt > 0,
            s"index_factory: PQ m must be positive in '$s'")
          PqEnc(m.toInt, nbits)
        case other =>
          throw new IllegalArgumentException(
            s"index_factory: could not parse component '$other' in '$s'")
      }
      case Nil =>
        throw new IllegalArgumentException(
          s"index_factory: missing encoding component in '$s'")
      case extra =>
        throw new IllegalArgumentException(
          s"index_factory: unexpected trailing components '${extra.mkString(",")}' in '$s'")
    }
    pre.foreach {
      case PcaPre(d) => require(d > 0, s"index_factory: PCA dim must be positive in '$s'")
      case OpqPre(m) => require(m > 0, s"index_factory: OPQ m must be positive in '$s'")
      case _ => ()
    }
    ivf.foreach(i => require(i.nlist > 0,
      s"index_factory: IVF nlist must be positive in '$s'"))
    Plan(idMap, pre, ivf, enc)
  }

  /** Search the index a factory string describes: top-k neighbors of
    * `queryId` over the sf embeddings, via the engine family the spec
    * maps to. Unsupported (but grammatical) combinations fail loudly
    * with the supported set. Output schema follows the family
    * (`vec_id` + its score column), so a spec's results are comparable
    * to the family's registered query. */
  def search(spark: SparkSession, sfDir: String, factory: String,
             queryId: Long = 0L, k: Int = 10, nprobe: Int = 1): DataFrame = {
    val plan = parse(factory)
    val unsupported = new IllegalArgumentException(
      s"index_factory: '$factory' parses but has no engine mapping; supported: " +
        "Flat | IVF{n},Flat | PQ{m}[x{b}] | IVF{n},PQ{m}[x{b}] | " +
        "PCA{d},IVF{n},PQ{m}[x{b}] | SQ8 | LSH | HNSW{m} (optional IDMap, prefix)")
    (plan.pre, plan.ivf, plan.enc) match {
      case (None, None, Flat) =>
        VectorSearchOps.knnExactL2(spark, sfDir, queryId, k)
      case (None, Some(Ivf(n)), Flat) =>
        val q = graft.Tables.queryVector(spark, sfDir, queryId)
        IvfIndex.search(IvfIndex.forEmbeddings(spark, sfDir, n), q, k,
            nprobe, excludeId = Some(queryId))
          .withColumnRenamed("id", "vec_id")
      case (None, None, PqEnc(m, b)) =>
        Pq.searchPq(spark, sfDir, queryId, kNeighbors = k, m = m, k = 1 << b)
      case (None, Some(Ivf(n)), PqEnc(m, b)) =>
        Pq.ivfSearchPq(spark, sfDir, queryId, kNeighbors = k, nlist = n,
          nprobe = nprobe, m = m, k = 1 << b)
      case (Some(PcaPre(d)), Some(Ivf(n)), PqEnc(m, b)) =>
        ChainedIndex.search(spark, sfDir, queryId, kNeighbors = k, dOut = d,
          nlist = n, nprobe = nprobe, m = m, k = 1 << b)
      case (None, None, Sq8) =>
        Quantization.knnQuantized(spark, sfDir, queryId, k)
      case (None, None, Lsh) =>
        Quantization.knnBinary(spark, sfDir, queryId, k)
      case (None, None, HnswEnc(m)) =>
        val emb = graft.Tables.embeddings(spark, sfDir)
        val q = graft.Tables.queryVector(spark, sfDir, queryId)
        GraphAnn.searchBeam(spark, GraphAnn.forEmbeddings(spark, sfDir, k = m),
          emb, q, k, ef = math.max(32, k),
          seeds = GraphAnn.seedsForEmbeddings(spark, sfDir, k = m),
          excludeId = Some(queryId))
      case _ => throw unsupported
    }
  }

  /** The parsed plan as rows `(pos, kind, param)` — a deterministic
    * projection of the parser itself, registered (`factory_parse`) so
    * the grammar sits under the oracle gate like any operator. */
  def parseToDf(spark: SparkSession, factory: String): DataFrame = {
    val plan = parse(factory)
    val rows = plan.components.zipWithIndex.map { case (c, i) =>
      (i, c.kind, c.param)
    }
    spark.createDataFrame(rows).toDF("pos", "kind", "param")
  }
}
