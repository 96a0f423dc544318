package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Pairwise-preference rating — the reward-data prep step of an RLHF /
  * preference-tuning pipeline: given "A was preferred over B" outcomes
  * (human votes, win/loss A-B tests, model-vs-model matches), fit a
  * Bradley–Terry strength per item so downstream selection can rank
  * candidates, weight samples, or filter inconsistent annotators.
  *
  * The fit is Hunter's (2004, Ann. Stat.) MM iteration for the
  * Bradley–Terry model P(i beats j) = pi_i / (pi_i + pi_j):
  *
  *   pi_i' = W_i / sum_j n_ij / (pi_i + pi_j)
  *
  * where W_i = total wins of i and n_ij = games between i and j, then a
  * renormalization to sum(pi) = n_items·scale per round (the MLE is
  * scale-invariant; pinning the total keeps fixed-iteration outputs
  * comparable and the integers bounded).
  *
  * Integer-exact by the [[PageRank]] discipline: ratings live as
  * DECIMAL(38,0) micro-units and every division is a floor — all terms
  * are non-negative, so Spark's truncating `DIV` and an oracle engine's
  * floor `//` agree bit-for-bit and the result is associative and
  * partition-order-free (float MM could never be hash-gated: the
  * denominator sum's order changes the last ulps). Items that never won
  * reach rating 0 after one round — the true boundary MLE direction
  * (pi → 0), kept rather than smoothed so the gate semantics stay
  * arithmetic-only; add-k smoothing is a caller-side prior (append k
  * synthetic win/loss pairs per item).
  *
  * Safety of the divisions: a pair row (i,j) exists only where a game
  * was played and every game has a winner — but BOTH floored stages
  * can round a low-share winner to 0 under extreme skew (raw =
  * ⌊wins·big/d⌋ when d > wins·big, and the renormalization when
  * raw·nItems·scale < tot), after which a pair of two zero-π items
  * would zero the next round's (π_i + π_j) denominator (DIV 0 → NULL,
  * poisoning every rating it touches). So π is clamped to ≥ 1 quantum
  * for every item with wins > 0: each pair's winner side then keeps
  * π ≥ 1, every denominator is positive by construction, and all-loss
  * items still reach exactly 0 (the boundary-MLE direction is
  * preserved, not smoothed).
  *
  * Scale shape: the game log aggregates ONCE to the directed pair
  * relation (i, j, n) — |items|²-bounded and in practice sparse — and
  * per round the plan is two keyed joins of that relation against the
  * items-sized ratings frame (AQE broadcasts ratings when it fits), one
  * hash aggregate, and a 1-row total broadcast via crossJoin. Rating
  * lineage is cut per round, each cut freeing the one before; the
  * result reads the per-item stats and the last round's cut
  * (caller-owned, dispose with [[CacheHygiene.release]]). Nothing
  * driver-side grows with items or games. */
object Preference {

  /** Bradley–Terry ratings after `iterations` MM rounds. Input: one row
    * per game with winner/loser item columns (null or self games are
    * dropped). Output: (item, rating_micro, wins, n_games) — rating in
    * `scale` units (default micro), renormalized so the corpus mean
    * rating is exactly `scale` up to floor loss. */
  def bradleyTerry(comparisons: DataFrame, winnerCol: String, loserCol: String,
                   iterations: Int = 5, scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(scale >= 1000L && scale <= 1000000000L,
      s"scale must be in [1e3, 1e9], got $scale")
    val dec = DecimalType(38, 0)
    val big = scale * scale // precision carrier for the reciprocal sums
    CacheHygiene.scope { ck =>
      val games = ck.cut(comparisons
        .filter(col(winnerCol).isNotNull && col(loserCol).isNotNull &&
          col(winnerCol) =!= col(loserCol))
        .select(col(winnerCol).as("__w"), col(loserCol).as("__l")))
      // directed pair relation: (i, j, games between i and j) — both
      // directions, so "all pairs involving i" is one equi-join on __i
      val dirPairs = ck.cut(
        games.select(col("__w").as("__i"), col("__l").as("__j"))
          .unionByName(games.select(col("__l").as("__i"), col("__w").as("__j")))
          .groupBy(col("__i"), col("__j"))
          .agg(count(lit(1)).cast(dec).as("__n")))
      val wins = games.groupBy(col("__w").as("item")).agg(count(lit(1)).as("wins"))
      val stats = ck.cut(dirPairs
        .groupBy(col("__i").as("item"))
        .agg(sum(col("__n")).cast("long").as("n_games"))
        .join(wins, Seq("item"), "left")
        .select(col("item"), coalesce(col("wins"), lit(0L)).as("wins"),
          col("n_games")))
      val nItems = stats.count()
      var r = stats.select(col("item"), lit(scale).cast(dec).as("__pi"))
      for (_ <- 1 to iterations) {
        val denom = dirPairs
          .join(r.select(col("item").as("__i"), col("__pi").as("__pi_i")), Seq("__i"))
          .join(r.select(col("item").as("__j"), col("__pi").as("__pi_j")), Seq("__j"))
          .select(col("__i").as("item"),
            expr(s"CAST((__n * CAST($big AS DECIMAL(38,0))) DIV (__pi_i + __pi_j) AS DECIMAL(38,0))")
              .as("__t"))
          .groupBy(col("item")).agg(sum(col("__t")).as("__d"))
        val raw = stats.join(denom, Seq("item"))
          .select(col("item"), col("wins"),
            expr(s"CAST((CAST(wins AS DECIMAL(38,0)) * CAST($big AS DECIMAL(38,0))) DIV __d AS DECIMAL(38,0))")
              .as("__raw"))
        val tot = raw.agg(sum(col("__raw")).as("__tot"))
        // Winner floor (header doc): both floored stages can round a
        // low-share winner to 0 under extreme skew, and a pair of two
        // zero-π items would zero the next round's (π_i + π_j)
        // denominator. π ≥ 1 for every item with wins > 0 keeps each
        // pair's winner side positive; true losers stay exactly 0.
        val prev = r
        r = ck.cut(raw.crossJoin(broadcast(tot))
          .select(col("item"),
            expr(s"CAST(greatest((__raw * CAST($nItems AS DECIMAL(38,0)) * CAST($scale AS DECIMAL(38,0))) DIV __tot, CASE WHEN wins > 0 THEN 1 ELSE 0 END) AS DECIMAL(38,0))")
              .as("__pi")))
        ck.free(prev)
      }
      stats.join(r, Seq("item"))
        .select(col("item"), col("__pi").cast("long").as("rating_micro"),
          col("wins"), col("n_games"))
    }
  }
}
