package graft.functions

import graft.ops.CacheHygiene
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Trained product-quantization model: `codebooks(s)(j)` is subspace
  * s's centroid j as e6-quantized integer components (⌊x·10⁶⌋ units).
  * Codes are positions in the ORIGINAL seed numbering — a cluster that
  * empties during training drops out, so a codebook may have fewer
  * than k live entries (both engines drop it identically). */
case class PqModel(m: Int, subDim: Int,
                   codebooks: IndexedSeq[IndexedSeq[(Int, IndexedSeq[Long])]]) {
  def dim: Int = m * subDim
}

/** Product quantization for ANN (Jégou, Douze, Schmid, TPAMI 2011):
  * split each vector into m subvectors, learn a small L2 codebook per
  * subspace, store each vector as m one-byte codes, and answer queries
  * by Asymmetric Distance Computation — a per-query lookup table of
  * query-subvector-to-centroid distances, summed over the stored
  * codes. 64 dims × 4 bytes compress to m bytes per vector; the
  * corpus-sized search state becomes codes instead of floats.
  *
  * House integer-exactness discipline end to end, which stock PQ
  * implementations never attempt: components quantize to ⌊x·10⁶⌋
  * BEFORE any arithmetic, L2² distances are exact integer sums,
  * centroid updates are exact floor divisions (pmod identity — the
  * engine-portable floor for either sign), and every argmin breaks
  * ties by code id. Training is therefore bit-deterministic and an
  * oracle replays the ENTIRE pipeline — seeds, Lloyd rounds, encoding,
  * ADC ranking — by unrolled SQL (the q75 k-means discipline extended
  * to a trained-index search).
  *
  * Scale shape: training materializes the exploded (id, s, subvector)
  * relation once and runs iters+1 aggregate passes over it (classic
  * map-side-combined shape, model collected per round — m·k·subDim
  * integers, driver-trivial). Encoding is map-only against inlined
  * literals. ADC is a broadcast join of the n·m code rows against the
  * |Q|·m·k LUT, one hash aggregate, and the two-phase per-query top-k
  * window — no all-pairs float math anywhere. */
object ProductQuantizer {

  private val dec = DecimalType(38, 0)

  /** Subvector s of a float-array column, e6-quantized (exact: a
    * float's 24-bit mantissa times 10⁶ fits a double). */
  private def subvecE6(vec: Column, s: Int, subDim: Int): Column =
    transform(slice(vec, s * subDim + 1, subDim),
      x => floor(x.cast("double") * lit(1000000.0)).cast("long"))

  /** (id[, keep...], s, qv) exploded subvector relation; `keep` columns
    * ride along unchanged (the IVFADC path carries the coarse bucket). */
  private def subRelation(corpus: DataFrame, idCol: String, vecCol: String,
                          m: Int, subDim: Int, keep: Seq[String] = Nil): DataFrame =
    corpus.select((col(idCol).as("id") +: keep.map(col)) :+
        explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), subvecE6(col(vecCol), s, subDim).as("qv"))): _*)).as("e"): _*)
      .select((col("id") +: keep.map(col)) ++
        Seq(col("e.s").as("s"), col("e.qv").as("qv")): _*)

  /** (id[, keep...], s, qv) over an ALREADY-e6 long-array column — the
    * residual path's twin of [[subRelation]] (residuals are integer
    * subtractions of integer quantizations; re-quantizing would be
    * wrong, so this variant only slices). */
  private def subRelationE6(df: DataFrame, idCol: String, e6Col: String,
                            m: Int, subDim: Int, keep: Seq[String] = Nil): DataFrame =
    df.select((col(idCol).as("id") +: keep.map(col)) :+
        explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), slice(col(e6Col), s * subDim + 1, subDim).as("qv"))): _*)).as("e"): _*)
      .select((col("id") +: keep.map(col)) ++
        Seq(col("e.s").as("s"), col("e.qv").as("qv")): _*)

  /** Argmin code over each subspace's live centroids, ties to the
    * smaller code. Was a coalesced CASE over m·k·subDim inlined
    * literal terms — which blows the JVM 64 KB method limit at the
    * catalog's 4×8×16 shape and silently drops the whole stage to
    * interpreted eval (the r13 finding: an 80 K-row encode cost
    * 11.4 s interpreted vs 0.4 s compiled). Now the [[PqAssignExpr]]
    * kernel: constant bytecode, model arrays ride the expression. */
  private def assignExpr(model: PqModel): Column =
    PqAssignExpr.pqAssign(col("s"), col("qv"), model)

  /** Lloyd's per-subspace k-means over a pre-built (id, s, qv)
    * subvector relation from a seed model — the shared training core
    * for the raw-vector path ([[train]]) and the residual path
    * ([[ivfAdcResidualTopK]]); byte-identical update arithmetic either
    * way (exact integer sums, pmod-identity floor division, argmin
    * ties to the smaller code). */
  private def lloyd(subs: DataFrame, seedModel: PqModel, iters: Int): PqModel = {
    var model = seedModel
    for (_ <- 1 to iters) {
      val updated = subs.withColumn("code", assignExpr(model))
        .select(col("s"), col("code"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg(sum(col("x")).cast(dec).as("sx"), count(lit(1)).cast(dec).as("n"))
        // exact floor division for either sign of the sum
        .withColumn("cmean",
          ((col("sx") - pmod(col("sx"), col("n"))) / col("n")).cast("long"))
        .select(col("s"), col("code"), col("pos"), col("cmean"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case ((s, code), rows) =>
          (s, code, rows.sortBy(_.getInt(2)).map(_.getLong(3)).toIndexedSeq)
        }.toSeq
      model = PqModel(model.m, model.subDim,
        IndexedSeq.tabulate(model.m) { s =>
          updated.filter(_._1 == s).sortBy(_._2)
            .map(t => t._2 -> t._3).toIndexedSeq
        })
    }
    model
  }

  /** Seed model from driver-side e6 vectors: seed j's subvector s is
    * `seedVecsE6(j)` sliced at s·subDim — the k vectors must already be
    * in the portable (md5(id), id) draw order. */
  private def seedModel(seedVecsE6: IndexedSeq[IndexedSeq[Long]],
                        m: Int, subDim: Int): PqModel =
    PqModel(m, subDim,
      IndexedSeq.tabulate(m) { s =>
        seedVecsE6.zipWithIndex.map { case (v, j) =>
          j -> IndexedSeq.tabulate(subDim)(i => v(s * subDim + i))
        }
      })

  /** Lloyd's per-subspace k-means over the e6 subvectors. Seeds are
    * the k corpus vectors with the smallest (md5(id), id) — the shared
    * portable draw — numbered 0..k−1 in that order, identically for
    * every subspace. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            m: Int, subDim: Int, k: Int, iters: Int): PqModel = {
    require(m >= 1 && subDim >= 1 && k >= 2 && iters >= 1,
      s"bad PQ shape m=$m subDim=$subDim k=$k iters=$iters")
    val seedVecs = corpus
      .orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(r => IndexedSeq.tabulate(m * subDim) { p =>
        val x = r.getSeq[Any](0)(p) match {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue
          case other => other.toString.toDouble
        }
        math.floor(x * 1e6).toLong
      }).toIndexedSeq
    CacheHygiene.scope { ck =>
      lloyd(ck.cut(subRelation(corpus, idCol, vecCol, m, subDim)),
        seedModel(seedVecs, m, subDim), iters)
    }
  }

  /** PQ codes of every vector: (id, subspace, code) — map-only against
    * the inlined model. */
  def encode(df: DataFrame, idCol: String, vecCol: String, model: PqModel): DataFrame =
    subRelation(df, idCol, vecCol, model.m, model.subDim)
      .select(col("id"), col("s").cast("int").as("subspace"),
        assignExpr(model).cast("int").as("code"))

  /** The model as a (s, code, cv) relation for LUT joins. */
  def codebookDf(spark: SparkSession, model: PqModel): DataFrame = {
    import spark.implicits._
    model.codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.map { case (code, cv) => (s, code, cv) }
    }.toDF("s", "code", "cv")
  }

  /** ADC top-k: per-query LUT of exact subspace distances joined to
    * the stored codes, summed, ranked by (distance, neighbor id). The
    * query never touches corpus floats — only its own m·k LUT rows and
    * the m code columns, which is the whole point of PQ at scale.
    * Output: (query_id, rank, neighbor_id, adc_dist). */
  def adcTopK(queries: DataFrame, codes: DataFrame, model: PqModel,
              idCol: String, vecCol: String, k: Int): DataFrame = {
    val spark = queries.sparkSession
    val qsub = subRelation(queries, idCol, vecCol, model.m, model.subDim)
      .withColumnRenamed("id", "query_id")
    val lut = qsub.join(codebookDf(spark, model), Seq("s"))
      .select(col("query_id"), col("s"), col("code"),
        aggregate(zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v).as("__d"))
    codes
      .join(broadcast(lut),
        codes("subspace") === lut("s") && codes("code") === lut("code") &&
          codes("id") =!= lut("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"), col("__d"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__d")).as("adc_dist"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist").asc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), col("adc_dist").cast("long").as("adc_dist"))
  }

  /** IVFADC (Jégou, Douze, Schmid, TPAMI 2011 §IV): the inverted-file
    * coarse quantizer composed IN FRONT of ADC, which is what makes a
    * PQ index answer queries at interactive cost — [[adcTopK]] alone
    * scans every stored code per query; here each query pays only the
    * `nprobe` nearest coarse cells, ~nprobe/C of the corpus.
    *
    * Plan: (1) the corpus is coarse-assigned once (map-only argmax
    * against the centroid model — at scale the bucket is a write-time
    * partition key, so probing prunes FILE SCANS, not just join rows);
    * (2) codes are the same integer-exact PQ argmin with the bucket
    * carried through; (3) each query's m·k LUT is joined to its probe
    * set and broadcast, so the codes join keeps only rows whose bucket
    * one of the probing queries requested — candidate volume drops by
    * ~nprobe/C before the hash agg and the per-query top-k window ever
    * see a row.
    *
    * Deviation from the paper, documented: codes quantize RAW vectors,
    * not per-cell residuals (x − centroid). The corpus-wide codebook is
    * trained once and shared across cells — the "IVF-PQ without
    * residual" variant — so [[train]]/[[encode]] are reused unchanged
    * and nprobe = C degenerates to EXACTLY [[adcTopK]] (spec-pinned);
    * residual coding would buy finer quantization at the cost of
    * per-(query, cell) LUT recomputation and a per-cell re-encode on
    * any centroid refresh. Coarse assignment ranks by cosine (the
    * house quantizer, shared with ivfTopK/SemDeDup) while ADC ranks by
    * L2² — mixed metrics are fine for candidate pruning and keep the
    * coarse stage bit-portable.
    *
    * Output: (query_id, rank, neighbor_id, adc_dist) — same contract
    * as [[adcTopK]], restricted to probed cells. */
  def ivfAdcTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                 model: PqModel, idCol: String, vecCol: String,
                 k: Int, nprobe: Int): DataFrame = {
    require(k >= 1 && nprobe >= 1, s"bad search shape k=$k nprobe=$nprobe")
    val spark = queries.sparkSession
    // ONE quantizer collect + inline for both sides — collecting per
    // side re-runs the centroid pipeline and the model codegen twice
    // (measured ~half the sf10 search cost before this was shared)
    val (tagged, probes0) = VectorFunctions.tagAndProbe(
      corpus.select(col(idCol), col(vecCol)), col(vecCol),
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__v")), col("__v"),
      centroids, "__bucket", nprobe)
    val codes = subRelation(tagged, idCol, vecCol, model.m, model.subDim,
        keep = Seq("__bucket"))
      .select(col("id"), col("__bucket").as("bucket"),
        col("s").cast("int").as("subspace"), assignExpr(model).cast("int").as("code"))
    val probes = probes0.select(col("query_id"), col("__bucket").as("bucket"))
    val qsub = subRelation(queries, idCol, vecCol, model.m, model.subDim)
      .withColumnRenamed("id", "query_id")
    val lut = qsub.join(codebookDf(spark, model), Seq("s"))
      .select(col("query_id"), col("s"), col("code"),
        aggregate(zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v).as("__d"))
    val probedLut = lut.join(probes, Seq("query_id"))
    codes
      .join(broadcast(probedLut),
        codes("bucket") === probedLut("bucket") &&
          codes("subspace") === probedLut("s") && codes("code") === probedLut("code") &&
          codes("id") =!= probedLut("query_id"))
      .select(col("query_id"), codes("id").as("neighbor_id"), col("__d"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__d")).as("adc_dist"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist").asc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), col("adc_dist").cast("long").as("adc_dist"))
  }

  /** Residual-encoded IVFADC — Jégou 2011 §IV's actual form, closing
    * [[ivfAdcTopK]]'s documented raw-vector deviation: every corpus
    * vector is PQ-coded on its residual x − c(bucket) against its own
    * coarse cell's exact e6 mean centroid, the codebook is trained on
    * those residuals (one quantizer shared across cells, per the
    * paper), and each query's ADC lookup table is built from the
    * query's residual WITH RESPECT TO EACH PROBED CELL — so the LUT is
    * per (query, probe-cell), m·k·nprobe rows per query, still
    * broadcast-trivial. Residuals concentrate around the origin, which
    * is what keeps a fixed code budget's quantization error (and hence
    * recall) flat as C grows — the lever the raw-vector variant gives
    * up.
    *
    * Exactness chain, oracle-replayed end to end: bucket assignment is
    * the shared integer-sum cosine quantizer (bit-equal to
    * [[ivfAdcTopK]]'s); residuals are integer subtractions
    * ⌊x·10⁶⌋ − c_e6 ([[ResidualE6Expr]], c_e6 from
    * [[VectorFunctions.centroidMeansE6]]'s BigInt floor); training is
    * the same [[lloyd]] core over the residual subvectors (seeds = the
    * residuals of the portable (md5(id), id) draw); ADC distances are
    * exact integer L2². Scale shape matches [[ivfAdcTopK]]: one
    * corpus tag pass, map-only encode, candidate volume ~nprobe/C,
    * bucket = write-time partition key at 100 TB.
    *
    * Output: (query_id, rank, neighbor_id, adc_dist) — the
    * [[adcTopK]] contract. */
  def ivfAdcResidualTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                         meansE6: Seq[(Int, IndexedSeq[Long])],
                         m: Int, subDim: Int, kCode: Int, iters: Int,
                         idCol: String, vecCol: String,
                         k: Int, nprobe: Int): DataFrame = {
    require(k >= 1 && nprobe >= 1, s"bad search shape k=$k nprobe=$nprobe")
    require(m >= 1 && subDim >= 1 && kCode >= 2 && iters >= 1,
      s"bad PQ shape m=$m subDim=$subDim k=$kCode iters=$iters")
    val spark = queries.sparkSession
    val (tagged, probes0) = VectorFunctions.tagAndProbe(
      corpus.select(col(idCol), col(vecCol)), col(vecCol),
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__v")), col("__v"),
      centroids, "__bucket", nprobe)
    val resid = tagged.withColumn("__r",
      ResidualE6Expr.residualE6(col(vecCol), col("__bucket"), meansE6))
    // the result's codes read this cut: caller-owned, dispose with
    // CacheHygiene.release
    val subs = CacheHygiene.scope(
      _.cut(subRelationE6(resid, idCol, "__r", m, subDim, keep = Seq("__bucket"))))
    val seedVecs = resid
      .orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(kCode)
      .select(col("__r")).collect()
      .map(_.getSeq[Long](0).toIndexedSeq).toIndexedSeq
    val model = lloyd(subs, seedModel(seedVecs, m, subDim), iters)
    val codes = subs.select(col("id"), col("__bucket").as("bucket"),
      col("s").cast("int").as("subspace"), assignExpr(model).cast("int").as("code"))
    // per-(query, probed cell) residual -> LUT rows (query, bucket, s, code, d)
    val qresid = probes0.withColumn("__r",
      ResidualE6Expr.residualE6(col("__v"), col("__bucket"), meansE6))
    val qsub = subRelationE6(qresid, "query_id", "__r", m, subDim, keep = Seq("__bucket"))
    val lut = qsub.join(codebookDf(spark, model), Seq("s"))
      .select(col("id").as("query_id"), col("__bucket").as("bucket"),
        col("s"), col("code"),
        aggregate(zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v).as("__d"))
    codes
      .join(broadcast(lut),
        codes("bucket") === lut("bucket") &&
          codes("subspace") === lut("s") && codes("code") === lut("code") &&
          codes("id") =!= lut("query_id"))
      .select(col("query_id"), codes("id").as("neighbor_id"), col("__d"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__d")).as("adc_dist"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist").asc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), col("adc_dist").cast("long").as("adc_dist"))
  }
}
