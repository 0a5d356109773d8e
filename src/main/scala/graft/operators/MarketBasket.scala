package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequent item-pair mining and association-rule scoring over keyed
  * baskets — the classic market-basket co-occurrence analysis, and (for
  * an LLM-data pipeline) the primitive behind "which sources / tags /
  * topics co-occur in the same document cluster" diagnostics.
  *
  * Beyond the reference (which has no co-occurrence analytics); sits
  * beside [[Triangles]] / link-prediction in the co-occurrence family.
  *
  * Scale shape: ONE shuffle builds per-basket sorted item sets
  * ([[CoOccurrence.sets]]), materialized once for the three consumers;
  * pairs then explode map-side (C(b, 2) per basket — bounded when
  * baskets are bounded: orders, sessions, documents-with-tags all
  * are). No self-join, no all-pairs product: a basket with b items
  * emits b(b−1)/2 rows, and the support filter runs before the
  * (tiny, item-domain-sized) dimension joins. All rule scores are
  * integer fixed-point (ppm) so a SQL oracle reproduces them
  * bit-for-bit; the score arithmetic runs in DECIMAL(38,0) so counts
  * up to ~1e15 baskets cannot overflow.
  */
object MarketBasket {

  /** Frequent unordered item pairs with support/confidence/lift.
    *
    * `items`: one row per (basket, item) occurrence (duplicates fine —
    * de-duplicated internally). Returns one row per unordered pair
    * `(item_a < item_b)` whose relative support is at least
    * `minSupportPpm` (parts-per-million of all baskets), with:
    *   - `pair_cnt`, `cnt_a`, `cnt_b`: basket counts
    *   - `conf_ab_ppm` = 10⁶·P(b|a), `conf_ba_ppm` = 10⁶·P(a|b)
    *   - `lift_ppm` = 10⁶·P(a,b)/(P(a)·P(b))
    * all floor-divided in decimal, so exactly reproducible.
    */
  def pairRules(items: DataFrame, basketCol: String, itemCol: String,
                minSupportPpm: Long): DataFrame = {
    // one corpus shuffle builds the per-basket sorted item sets; the
    // three consumers (basket count, item counts, pair counts) read
    // the materialized sets, not the source
    val sets = CoOccurrence.sets(items, basketCol, itemCol)
      .transform(CheckpointScope.pin(_))
    val totals = sets.agg(count(lit(1)).as("n_baskets"))
    val itemCnt = sets.select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("item_cnt"))
    // pairs emitted map-side off the materialized sets as flat packed
    // values — [[CoOccurrence.pairCountsFromSets]] (round-14: the
    // posting self-join this replaces sort-merged two corpus-sized
    // posting sides and spilled at the sf100 decade; the flat-value
    // HOF pays one primitive op per C(b,2) pair, no join, no sort,
    // and the count collapses to the distinct-pair domain before its
    // exchange). The r12 struct-HOF lesson still holds — the win here
    // comes from emitting a PACKED BIGINT (integral items) or one
    // NUL-joined string (string items), never a per-pair struct
    val pairs = CoOccurrence.pairCountsFromSets(sets)
      .select(col("u").as("item_a"), col("v").as("item_b"), col("w").as("pair_cnt"))
    pairs
      .crossJoin(broadcast(totals))
      // relative support gate — scale-invariant, applied before the
      // dimension joins so infrequent pairs never reach them
      .filter(col("pair_cnt") * lit(1000000L) >=
              lit(minSupportPpm) * col("n_baskets"))
      .join(itemCnt.select(col("item").as("item_a"), col("item_cnt").as("cnt_a")),
            "item_a")
      .join(itemCnt.select(col("item").as("item_b"), col("item_cnt").as("cnt_b")),
            "item_b")
      .select(col("item_a"), col("item_b"), col("pair_cnt"),
        col("cnt_a"), col("cnt_b"),
        expr("cast(pair_cnt as decimal(38,0)) * 1000000 div cnt_a")
          .as("conf_ab_ppm"),
        expr("cast(pair_cnt as decimal(38,0)) * 1000000 div cnt_b")
          .as("conf_ba_ppm"),
        expr("cast(pair_cnt as decimal(38,0)) * n_baskets * 1000000 " +
             "div (cast(cnt_a as decimal(38,0)) * cnt_b)").as("lift_ppm"))
  }
}
