package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE vocabulary learning (Sennrich et al. 2016): the
  * iterative most-frequent-pair merge over a word-frequency table —
  * the TRAINING side of the tokenizer family (q45 applies a BPE-ish
  * pre-tokenizer; this learns the merge list itself).
  *
  * Representation: a word's symbol sequence is one string with every
  * symbol wrapped in sentinel brackets (U+0001 s U+0002, absent from
  * the corpus by audit). Merging pair (a,b) is then a LITERAL string
  * replace of "⟨a⟩⟨b⟩" with "⟨ab⟩" — and because adjacent wrapped
  * symbols share no characters, left-to-right non-overlapping replace
  * (both Spark's UTF8String.replace and DuckDB's replace) implements
  * exactly BPE's greedy in-word merge scan ("aaa" + (a,a) → "aa","a").
  *
  * Scale shape: everything iterates over the DISTINCT-WORD table
  * (Heaps-law sized — orders of magnitude under the corpus; the one
  * corpus-sized pass is the initial word count, a single hash agg).
  * Each merge step is ONE Spark job — the affected-word pair-count
  * delta — plus a driver-memory argmax over the maintained pair map
  * (model-sized, the kmeans-centroid precedent) and a map-only
  * replace, with a lineage cut every few steps so plan depth stays
  * constant. N merges = N small affected-slice jobs, never a corpus
  * re-scan and never a per-step scheduler round-trip for the argmax.
  */
object BpeTrain {

  private val L = "\u0001"
  private val R = "\u0002"

  /** One learned merge: the pair, its weighted count, rank of step. */
  final case class Merge(step: Int, lhs: String, rhs: String, cnt: Long)

  /** Corpus word-frequency table: lower-cased `\s+` tokens (the text
    * family protocol) with exact counts — the only corpus-sized pass. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(expr(
        s"filter(split(lower($textCol), '\\\\s+'), t -> length(t) > 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Encode a word into its bracketed character-symbol string. */
  private def encode(word: Column): Column =
    expr(s"concat_ws('', transform(split(word, ''), c -> concat('$L', c, '$R')))")

  /** Weighted adjacent-pair counts over the current symbol table. */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .withColumn("syms",
        expr(s"regexp_extract_all(seq, '$L([^$R]+)$R', 1)"))
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        """transform(sequence(0, size(syms) - 2),
                     i -> struct(syms[i] AS a, syms[i + 1] AS b))""")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))

  /** Learn `nMerges` merges. Ties break by (count desc, lhs asc,
    * rhs asc) in binary string order — deterministic across engines
    * for BMP text. Stops early if no pair remains.
    *
    * Pair counts are DELTA-MAINTAINED (the IncrementalAgg discipline
    * applied to BPE): the full pair aggregate runs ONCE at init; each
    * merge step then recounts only the AFFECTED words — those whose
    * symbol string contains the merged pair's literal (a map-only
    * filter; a merge can only change adjacencies inside words it
    * rewrites) — and folds the after−before delta into the maintained
    * count map in DRIVER memory. The per-step argmax is a driver scan
    * of that map (no Spark job), so per-step cluster cost tracks the
    * affected-word mass: at a real 32K-merge vocab, late merges touch
    * tiny slices and cost accordingly, instead of 32K full aggregates
    * over the word table (PLANS.md, "r10 directive #3 (delta-maintained
    * BPE pair counts)", records the 64/256-merge series).
    *
    * Word-table replaces stay map-only pure lineage with a cut every
    * `checkpointInterval` steps; the per-step delta (affected-slice
    * pair vocab) is the only thing collected.
    *
    * SMALL-CORPUS FAST PATH: when the distinct-word table has at most
    * `driverWordLimit` rows (one cheap count on the already-cached
    * table), the ENTIRE merge loop runs in driver memory over the
    * collected word array — zero Spark jobs per step. Same encode,
    * same weighted pair counts, same literal left-to-right
    * non-overlapping replace (Java String.replace == UTF8String
    * .replace == DuckDB replace), same UTF-8-byte tie order, so the
    * learned list is bit-identical to the distributed path
    * (spec-pinned). A gate-scale corpus stops paying per-step
    * scheduler round-trips; web-scale word tables (tens of millions
    * of types) exceed the limit and take the distributed path. */
  def learnMerges(docs: DataFrame, textCol: String, nMerges: Int,
                  checkpointInterval: Int = 4,
                  materialize: DataFrame => DataFrame = _.localCheckpoint(),
                  driverWordLimit: Long = 200000L): Seq[Merge] =
    learnLoop(docs, textCol, nMerges, checkpointInterval, materialize,
      collectStats = false, driverWordLimit)._1

  /** One learned step's probe record: the merge, how many distinct
    * words its delta recount touched, and the step's wall time. */
  final case class StepStat(step: Int, affectedWords: Long, sec: Double)

  /** [[learnMerges]] with per-step instrumentation (affected-word mass
    * + wall time) — the surface that proved per-step cost tracks the
    * affected slice, not the word table (PLANS.md, "r10 directive #3"
    * and its Round 12 driver-fast-path follow-up); BpeTrainSpec pins it.
    * Always takes the DISTRIBUTED path (the thing being measured),
    * regardless of corpus size. */
  def learnMergesInstrumented(docs: DataFrame, textCol: String, nMerges: Int,
                              checkpointInterval: Int = 4,
                              materialize: DataFrame => DataFrame = _.localCheckpoint())
      : (Seq[Merge], Seq[StepStat]) =
    learnLoop(docs, textCol, nMerges, checkpointInterval, materialize,
      collectStats = true, driverWordLimit = 0L)

  /** Deterministic cross-engine pair order for the argmax tie-break:
    * count desc, then lhs, then rhs in UTF-8 BYTE order — the binary
    * string collation both engines sort by. (Scala's String compareTo
    * is UTF-16 code-unit order; identical on BMP text, but the byte
    * comparator removes the caveat entirely.) */
  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    a.length < b.length
  }

  private def learnLoop(docs: DataFrame, textCol: String, nMerges: Int,
                        checkpointInterval: Int,
                        materialize: DataFrame => DataFrame,
                        collectStats: Boolean,
                        driverWordLimit: Long): (Seq[Merge], Seq[StepStat]) = {
    require(nMerges >= 1, s"nMerges must be positive, got $nMerges")
    require(checkpointInterval >= 1, s"interval must be positive, got $checkpointInterval")
    var words = materialize(
      wordCounts(docs, textCol).select(encode(col("word")).as("seq"), col("freq")))
    if (driverWordLimit > 0 && words.count() <= driverWordLimit) {
      val arr = words.collect().map(r => (r.getString(0), r.getLong(1)))
      return (driverLoop(arr, nMerges), Seq.empty)
    }
    // The maintained pair-count table lives in DRIVER memory: one full
    // aggregate at init, then per-step deltas folded into the map.
    // This is model-sized state, not data: the pair vocab is the
    // distinct adjacent-pair set of the DISTINCT-WORD table (Heaps-law
    // on character sequences — low millions even for web-scale
    // tokenizer training), the same class as the learned merge list
    // and the kmeans centroids that already ship to the driver. Each
    // step is then ONE Spark job for the affected-word delta + a
    // driver argmax, instead of the previous three (argmax job,
    // affected checkpoint, maintained-table checkpoint) — 256 merges
    // stop paying 256 scheduler round-trips on a table that never
    // needed a cluster. This is also the small-vocab fast path: a
    // tiny gate corpus does one small job per step and nothing else.
    val counts = new java.util.HashMap[(String, String), Long]()
    def fold(rows: Array[org.apache.spark.sql.Row]): Unit = {
      var i = 0
      while (i < rows.length) {
        val r = rows(i)
        val k = (r.getString(0), r.getString(1))
        val c = counts.getOrDefault(k, 0L) + r.getLong(2)
        if (c > 0) counts.put(k, c) else counts.remove(k)
        i += 1
      }
    }
    fold(pairCounts(words).collect())
    val out = Seq.newBuilder[Merge]
    val stats = Seq.newBuilder[StepStat]
    var step = 1
    var done = false
    while (step <= nMerges && !done) {
      val t0 = System.nanoTime()
      if (counts.isEmpty) done = true
      else {
        // driver argmax over the maintained map — no Spark job
        var bestK: (String, String) = null
        var bestC = Long.MinValue
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val k = e.getKey
          val c = e.getValue
          if (c > bestC || (c == bestC &&
              (utf8Lt(k._1, bestK._1) ||
                (k._1 == bestK._1 && utf8Lt(k._2, bestK._2))))) {
            bestK = k; bestC = c
          }
        }
        val (a, b) = bestK
        out += Merge(step, a, b, bestC)
        val pat = s"$L$a$R$L$b$R"
        val rep = s"$L$a$b$R"
        // affected = words that actually contain the merged pair (a
        // merge can only change adjacencies inside words it rewrites).
        // Only the instrumented path pins it with a checkpoint (its
        // count() is the probe metric); the plain path leaves it lazy
        // — the delta job then re-runs the filter twice against the
        // CHECKPOINTED word table, which is cheaper than a per-step
        // localCheckpoint job (one scheduler round-trip per step
        // instead of two).
        val affected0 = words.filter(col("seq").contains(pat))
        val affected = if (collectStats) materialize(affected0) else affected0
        val after = affected.withColumn("seq", replace(col("seq"), lit(pat), lit(rep)))
        // the after−before delta, collected (affected-pair-vocab
        // sized) and folded into the driver map
        fold(pairCounts(after)
          .unionByName(pairCounts(affected)
            .select(col("a"), col("b"), (-col("cnt")).as("cnt")))
          .groupBy(col("a"), col("b")).agg(sum(col("cnt")).as("cnt"))
          .collect())
        words = words.withColumn("seq", replace(col("seq"), lit(pat), lit(rep)))
        if (step % checkpointInterval == 0) words = materialize(words)
        if (collectStats)
          stats += StepStat(step, affected.count(), (System.nanoTime() - t0) / 1e9)
        step += 1
      }
    }
    (out.result(), stats.result())
  }

  /** The small-corpus merge loop: the exact algorithm of the
    * distributed path over a collected (seq, freq) array — same
    * sentinel encoding, same weighted adjacent-pair counts, same
    * argmax comparator, same literal replace. Zero Spark jobs. */
  private def driverLoop(words0: Array[(String, Long)], nMerges: Int): Seq[Merge] = {
    val seqs = words0.map(_._1)
    val freqs = words0.map(_._2)
    // symbols of one bracketed string: contents between each L..R
    def syms(s: String): Array[String] = {
      val out = Array.newBuilder[String]
      var i = 0
      while (i < s.length) {
        val r = s.indexOf(R, i + 1) // s(i) == L; content holds no R (audited)
        out += s.substring(i + 1, r)
        i = r + 1
      }
      out.result()
    }
    val counts = new java.util.HashMap[(String, String), Long]()
    def add(s: String, sign: Long, freq: Long): Unit = {
      val xs = syms(s)
      var i = 0
      while (i < xs.length - 1) {
        val k = (xs(i), xs(i + 1))
        val c = counts.getOrDefault(k, 0L) + sign * freq
        if (c > 0) counts.put(k, c) else counts.remove(k)
        i += 1
      }
    }
    var i = 0
    while (i < seqs.length) { add(seqs(i), 1L, freqs(i)); i += 1 }
    val out = Seq.newBuilder[Merge]
    var step = 1
    while (step <= nMerges && !counts.isEmpty) {
      var bestK: (String, String) = null
      var bestC = Long.MinValue
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val k = e.getKey
        val c = e.getValue
        if (c > bestC || (c == bestC &&
            (utf8Lt(k._1, bestK._1) ||
              (k._1 == bestK._1 && utf8Lt(k._2, bestK._2))))) {
          bestK = k; bestC = c
        }
      }
      out += Merge(step, bestK._1, bestK._2, bestC)
      val pat = s"$L${bestK._1}$R$L${bestK._2}$R"
      val rep = s"$L${bestK._1}${bestK._2}$R"
      i = 0
      while (i < seqs.length) {
        if (seqs(i).contains(pat)) {
          // Java String.replace: left-to-right non-overlapping — the
          // same greedy scan as UTF8String.replace / DuckDB replace
          add(seqs(i), -1L, freqs(i))
          seqs(i) = seqs(i).replace(pat, rep)
          add(seqs(i), 1L, freqs(i))
        }
        i += 1
      }
      step += 1
    }
    out.result()
  }

  /** The learned merge list as a DataFrame (step, lhs, rhs, cnt) —
    * the gate/catalog surface. */
  def merges(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    learnMerges(docs, textCol, nMerges).toDF("step", "lhs", "rhs", "cnt")
  }

  /** Apply a learned merge list and report per-document BPE token
    * counts and fertility (BPE tokens per whitespace word, the
    * tokenizer-efficiency signal that decides vocab size per language):
    * (id, n_words, n_bpe_tokens, fertility_e6).
    *
    * The merge chain is MAP-ONLY over word instances — each word is
    * encoded and run through the replace chain inline in the scan
    * stage (codegen'd string ops; nothing shuffles but the per-doc
    * aggregate). The symbol count is the sentinel count, a length
    * difference — the array is never materialised. */
  def encodedTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                         learned: Seq[Merge]): DataFrame = {
    val words = docs.select(col(idCol), explode(expr(
      s"filter(split(lower($textCol), '\\\\s+'), t -> length(t) > 0)")).as("word"))
    val seqN = learned.foldLeft(encode(col("word"))) { (s, m) =>
      replace(s, lit(s"$L${m.lhs}$R$L${m.rhs}$R"), lit(s"$L${m.lhs}${m.rhs}$R"))
    }
    words
      .select(col(idCol),
        (length(seqN) - length(replace(seqN, lit(L), lit("")))).cast("long").as("n_sym"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe_tokens"))
      .withColumn("fertility_e6", expr("(1000000 * n_bpe_tokens) div n_words"))
  }
}
