package graft.queries

import graft.Q
import graft.core.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md §2.5): multi-key inner join (J1), manifest
  * semi-join (J6), anti-join guard, and the zonal membership-join +
  * fallback-cascade aggregation (J4 + A4–A6 + diagnostics A8).
  */
object JoinQueries {

  private val dec = "DECIMAL(18,2)"

  def all: Seq[Q] = Seq(

    // J1: the stage-1 shape — three per-source aggregates inner-joined on the
    // same composite key (X, Y, date) ≙ (user_id, d) here, like
    // ndvi ⋈ sm ⋈ preci at data_extraction_v2.py:524-528.
    Q("j1_multikey_3way", Seq("J1", "A1", "A3", "P12"),
      (s, dir) => {
        val e = Tables.events(s, dir).withColumn("d", to_date(col("ts")))
        def branch(et: String, aggName: String) =
          e.where(col("event_type") === et)
            .groupBy("user_id", "d")
            .agg(expr(s"CAST(sum(CAST(value AS $dec)) AS DOUBLE)").as(aggName))
        val views = branch("view", "view_sum")
        val clicks = branch("click", "click_sum")
        val buys = branch("purchase", "purchase_sum")
        views.join(clicks, Seq("user_id", "d"), "inner")
          .join(buys, Seq("user_id", "d"), "inner")
          .orderBy("user_id", "d")
      },
      Some(s"""WITH v AS (SELECT user_id, CAST(ts AS DATE) AS d, CAST(sum(CAST(value AS $dec)) AS DOUBLE) AS view_sum
              |          FROM events WHERE event_type = 'view' GROUP BY 1, 2),
              |     c AS (SELECT user_id, CAST(ts AS DATE) AS d, CAST(sum(CAST(value AS $dec)) AS DOUBLE) AS click_sum
              |          FROM events WHERE event_type = 'click' GROUP BY 1, 2),
              |     p AS (SELECT user_id, CAST(ts AS DATE) AS d, CAST(sum(CAST(value AS $dec)) AS DOUBLE) AS purchase_sum
              |          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
              |SELECT v.user_id, v.d, view_sum, click_sum, purchase_sum
              |FROM v JOIN c USING (user_id, d) JOIN p USING (user_id, d)
              |ORDER BY v.user_id, v.d""".stripMargin)),

    // J6: manifest semi-join — "only process items named in the manifest"
    // (import_biomass.py:38-42). left_semi keeps the probe side unduplicated.
    Q("j6_manifest_semi", Seq("J6", "S10", "K7"),
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val manifest = Tables.lineitem(s, dir).where(col("l_quantity") >= 48)
          .select(col("l_orderkey").as("o_orderkey"))
        o.join(manifest, Seq("o_orderkey"), "left_semi")
          .select(col("o_orderkey"), col("o_orderstatus"),
                  expr(s"CAST(CAST(o_totalprice AS $dec) AS DOUBLE)").as("price"))
          .orderBy("o_orderkey")
      },
      Some(s"""SELECT o_orderkey, o_orderstatus, CAST(CAST(o_totalprice AS $dec) AS DOUBLE) AS price
              |FROM orders
              |WHERE EXISTS (SELECT 1 FROM lineitem
              |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
              |ORDER BY o_orderkey""".stripMargin)),

    // The empty-input guard's complement (F7): rows with no counterpart.
    Q("j_anti_guard", Seq("F7", "J6"),
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val heavy = Tables.lineitem(s, dir).where(col("l_quantity") >= 48)
          .select(col("l_orderkey").as("o_orderkey"))
        o.join(heavy, Seq("o_orderkey"), "left_anti")
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n FROM orders
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem
             |                  WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // J4 + A4/A5/A6 + A8: zonal aggregation as a broadcast membership join
    // with the reference's fallback cascade (BiomassAggregate.py:221-271):
    // strict mean (pixel-center-in-polygon ≙ value >= 50) when it has
    // support, else the all-touched mean; plus the diagnostics provenance
    // flag (woredas_diagnostics.csv shape).
    Q("j4_zonal_cascade", Seq("J4", "A4", "A5", "A6", "A8"),
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select((col("user_id") % 25).as("zone_key"), to_date(col("ts")).as("d"), col("value"))
        val z = Tables.nation(s, dir)
          .select(col("n_nationkey").cast("long").as("zone_key"), col("n_name").as("zone"))
        e.join(broadcast(z), Seq("zone_key"))
          .groupBy("zone", "d")
          .agg(count(lit(1)).as("n_all"),
               sum(when(col("value") >= 50, 1).otherwise(0)).as("n_strict"),
               expr(s"sum(CASE WHEN value >= 50 THEN CAST(value AS $dec) END)").as("strict_sum"),
               expr(s"sum(CAST(value AS $dec))").as("all_sum"))
          .select(col("zone"), col("d"), col("n_all"), col("n_strict"),
                  expr("coalesce(CAST(strict_sum AS DOUBLE) / nullif(n_strict, 0)," +
                       "         CAST(all_sum AS DOUBLE) / n_all)").as("mean_value"),
                  (col("n_strict") === 0).as("used_fallback"))
          .orderBy("zone", "d")
      },
      Some(s"""SELECT n_name AS zone, CAST(ts AS DATE) AS d, count(*) AS n_all,
              |  CAST(sum(CASE WHEN value >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_strict,
              |  coalesce(
              |    CAST(sum(CASE WHEN value >= 50 THEN CAST(value AS $dec) END) AS DOUBLE)
              |      / nullif(sum(CASE WHEN value >= 50 THEN 1 ELSE 0 END), 0),
              |    CAST(sum(CAST(value AS $dec)) AS DOUBLE) / count(*)) AS mean_value,
              |  sum(CASE WHEN value >= 50 THEN 1 ELSE 0 END) = 0 AS used_fallback
              |FROM events JOIN nation ON user_id % 25 = n_nationkey
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // LEFT OUTER: every customer keeps a row — zero orders become count 0
    // and a 0.00 total (null-preserving join, null-absorbing aggregates).
    Q("j_left_outer_orders", Seq("J1", "A12", "P8"),
      (s, dir) =>
        Tables.customer(s, dir)
          .join(Tables.orders(s, dir),
                col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("n_orders"),
               expr("CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)").as("total_spent"))
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
             |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // FULL OUTER: audiences that only ever viewed, only ever purchased, or
    // did both — both sides' unmatched rows survive with nulls.
    Q("j_full_outer_activity", Seq("J1", "F1", "A10"),
      (s, dir) => {
        val e = Tables.events(s, dir)
        val v = e.where(col("event_type") === "view").select(col("user_id").as("vu")).distinct()
        val p = e.where(col("event_type") === "purchase").select(col("user_id").as("pu")).distinct()
        v.join(p, col("vu") === col("pu"), "full")
          .select(coalesce(col("vu"), col("pu")).as("user_id"),
                  when(col("vu").isNotNull && col("pu").isNotNull, "both")
                    .when(col("vu").isNotNull, "view_only")
                    .otherwise("purchase_only").as("status"))
          .orderBy("user_id")
      },
      Some("""WITH v AS (SELECT DISTINCT user_id AS vu FROM events WHERE event_type = 'view'),
             |p AS (SELECT DISTINCT user_id AS pu FROM events WHERE event_type = 'purchase')
             |SELECT coalesce(vu, pu) AS user_id,
             |  CASE WHEN vu IS NOT NULL AND pu IS NOT NULL THEN 'both'
             |       WHEN vu IS NOT NULL THEN 'view_only'
             |       ELSE 'purchase_only' END AS status
             |FROM v FULL OUTER JOIN p ON vu = pu
             |ORDER BY user_id""".stripMargin)),

    // Pure interval join (NO equi key): lineitems shipped inside a sampled
    // set of 14-day order windows. Written as the declarative BETWEEN join;
    // graft.plans.RangeJoinRule rewrites it to a bucketed equi-join
    // (intervals explode to floor(lo/W)..floor(hi/W) bucket ids, points
    // bucket once, exact predicate kept as residual) — without the rule
    // Spark plans a broadcast nested-loop, the O(n×m) cliff at scale.
    // PlanRegressionSpec asserts the rewritten plan hash-joins.
    Q("j_range_bucketed", Seq("J2", "F1", "A12", "§2.10"),
      (s, dir) => {
        // NB the conf must still be set when the returned frame EXECUTES
        // (optimization is lazy), so it stays on for the session; the rule's
        // strict pattern guard (pure cross-side interval, integral types, no
        // equi conjunct) keeps it from touching any other registry plan.
        s.conf.set(graft.plans.RangeJoinRule.WidthConf, "16")
        val iv = Tables.orders(s, dir)
          .where(col("o_orderkey") % 1000 === 0)
          .select(col("o_orderkey"),
                  datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("lo"))
          .withColumn("hi", col("lo") + 13)
        val pts = Tables.lineitem(s, dir)
          .select(col("l_orderkey"),
                  datediff(to_date(col("l_shipdate")), lit("1970-01-01")).as("d"))
        iv.join(pts, col("d") >= col("lo") && col("d") <= col("hi"))
          .groupBy("o_orderkey")
          .agg(count(lit(1)).as("n_in_window"),
               min("d").as("first_day"), max("d").as("last_day"))
          .orderBy("o_orderkey")
      },
      Some("""WITH iv AS (
             |  SELECT o_orderkey,
             |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS lo,
             |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 13 AS hi
             |  FROM orders WHERE o_orderkey % 1000 = 0),
             |pts AS (SELECT l_orderkey,
             |    datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d
             |  FROM lineitem)
             |SELECT o_orderkey, count(*) AS n_in_window,
             |  min(d) AS first_day, max(d) AS last_day
             |FROM iv JOIN pts ON d >= lo AND d <= hi
             |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin),
      note = "RangeJoinRule: BETWEEN join rewritten to bucketed equi-join (W=16)"),

    // Salted JOIN — the join-side companion to a_salted_two_phase: a skewed
    // fact key (5 event types over 100k rows — every key is hot) joined to
    // a per-key dim by salting the fact and replicating the dim per salt,
    // so each hot key spreads over 16 reducers instead of pinning one.
    // Row-identical to the plain join (each fact row meets its dim row
    // under exactly one salt), which is what the oracle checks. Decimal
    // subtraction before the sum keeps partition merge order irrelevant.
    Q("j_salted_hotkey", Seq("J1", "skew", "A1"),
      (s, dir) => {
        val e = Tables.events(s, dir)
        val dim = e.groupBy("event_type").agg(min("value").as("tmin"))
        // hint forces the shuffle join path (the tiny demo dim would
        // broadcast, hiding the very skew-spread the salt exists for — at
        // scale the dim side is too big to broadcast and this is the plan)
        graft.join.Salted.saltedJoin(
            e.select(col("event_type"), col("event_id"), col("value")).hint("merge"),
            dim, "event_type", entropy = col("event_id"), salts = 16)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
               expr("CAST(sum(CAST(value AS DECIMAL(18,2)) - CAST(tmin AS DECIMAL(18,2))) AS DECIMAL(18,2))").as("dsum"))
          .select(col("event_type"), col("n"),
                  col("dsum").cast("double").as("sum_delta"))
          .orderBy("event_type")
      },
      Some("""WITH dim AS (SELECT event_type, min(value) AS tmin FROM events GROUP BY 1)
             |SELECT e.event_type, count(*) AS n,
             |  CAST(CAST(sum(CAST(e.value AS DECIMAL(18,2)) - CAST(d.tmin AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_delta
             |FROM events e JOIN dim d USING (event_type)
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      note = "fact-salt + dim-replicate join: hot keys spread over 16 reducers; = plain join"),

    // Bounded-radius k-NN join — the scalable spatial join (J2's
    // grid-snap generalized from "same cell" to "true nearest within R").
    // Cell size = R, so every point within distance R of a query sits in
    // the query's 3×3 cell neighborhood: explode 9 cell offsets on the
    // (small) query side, equi-join on the cell key, exact-distance
    // re-rank. The pair space is O(queries × density·R²), never O(n²),
    // and the cell key is the shuffle key — the same plan at any scale.
    // Coordinates/distances are identical double expressions on both
    // engines; ties rank by neighbor id.
    Q("j_knn_radius", Seq("J2", "J3", "P4", "W4"),
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val pts = Tables.events(s, dir)
          .select(col("event_id"),
                  ((col("event_id") % 1000).cast("double") / 10.0).as("x"),
                  ((col("user_id") % 1000).cast("double") / 10.0).as("y"))
          .groupBy("event_id").agg(min("x").as("x"), min("y").as("y")) // unique ids
        val q = pts.where(col("event_id") % 101 === 0)
          .select(col("event_id").as("qid"), col("x").as("qx"), col("y").as("qy"))
          .withColumn("off", explode(array((-1 to 1).flatMap(dx =>
            (-1 to 1).map(dy => struct(lit(dx).as("dx"), lit(dy).as("dy")))): _*)))
          .select(col("qid"), col("qx"), col("qy"),
                  (floor(col("qx") / 2.0) + col("off.dx")).as("cx"),
                  (floor(col("qy") / 2.0) + col("off.dy")).as("cy"))
        val b = pts
          .select(col("event_id").as("bid"), col("x").as("bx"), col("y").as("by"),
                  floor(col("x") / 2.0).as("cx"), floor(col("y") / 2.0).as("cy"))
        val cand = q.join(b, Seq("cx", "cy"))
          .where(col("qid") =!= col("bid"))
          .withColumn("d2", (col("qx") - col("bx")) * (col("qx") - col("bx")) +
                            (col("qy") - col("by")) * (col("qy") - col("by")))
          .where(col("d2") <= 4.0)
        cand.withColumn("rank", row_number().over(
            W.partitionBy("qid").orderBy(col("d2"), col("bid"))))
          .where(col("rank") <= 3)
          .select(col("qid"), col("rank").cast("int").as("rank"), col("bid"),
                  round(col("d2"), 6).as("d2"))
          .orderBy("qid", "rank")
      },
      Some("""WITH pts AS (
             |  SELECT event_id,
             |    min(CAST(event_id % 1000 AS DOUBLE) / 10.0) AS x,
             |    min(CAST(user_id % 1000 AS DOUBLE) / 10.0) AS y
             |  FROM events GROUP BY 1),
             |q AS (SELECT event_id AS qid, x AS qx, y AS qy FROM pts WHERE event_id % 101 = 0),
             |cand AS (
             |  SELECT qid, event_id AS bid,
             |    (qx - x) * (qx - x) + (qy - y) * (qy - y) AS d2
             |  FROM q JOIN pts ON qid <> event_id
             |  WHERE (qx - x) * (qx - x) + (qy - y) * (qy - y) <= 4.0)
             |SELECT qid, CAST(rank AS INTEGER) AS rank, bid, round(d2, 6) AS d2 FROM (
             |  SELECT qid, bid, d2,
             |    row_number() OVER (PARTITION BY qid ORDER BY d2, bid) AS rank
             |  FROM cand) t
             |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),
      note = "grid-cell bounded-radius kNN: 3x3 neighborhood equi-join + exact re-rank; O(q x density R^2) pairs"),

    // Approximate STRING join (fuzzy match) — the data-cleaning classic:
    // block on positional 8-gram chunks of a 32-char key, verify with
    // exact Levenshtein <= 3. The blocking is LOSSLESS for substitution-
    // only edits (pigeonhole: 4 chunks, <=3 substitutions leave one
    // aligned chunk intact); insert/delete-shifted near-dups are the
    // shingling/LSH family's job (dedup_minhash_lsh). Candidate
    // space is equi-join-bounded over DISTINCT keys (never all-pairs, and
    // independent of how many copies each key has); the verify is a
    // per-distinct-pair integer compute. The same plan cleans entity
    // names at any corpus size: chunk equi-join, then edit-distance
    // residual, then an output-bound expansion to ids.
    Q("j_fuzzy_prefix_join", Seq("J2", "dedup", "F8", "§2.10"),
      (s, dir) => {
        // (doc_id, key) is re-referenced 5 times below (distinct, two
        // expansion joins, intra self-join both sides) — one cached instance
        val k = FrameMemo(s, s"$dir#fuzzy_keys") {
          Tables.documents(s, dir)
            .select(col("doc_id"), substring(col("text"), 1, 32).as("key"))
        }
        // Exact-duplicate collapse FIRST — the near-dup discipline every
        // production pipeline applies: on a dup-heavy corpus (the realistic
        // web-crawl case: sf1 carries 10 copies of every text) the blocking
        // and Levenshtein work is quadratic in copies unless it runs once
        // per DISTINCT key. Block + verify on distinct keys, then expand the
        // verified key pairs back to id pairs (output-bound, no re-verify):
        // a cross pair takes its distance from its key pair; same-key pairs
        // are dist 0 by definition. Result is row-identical to verifying
        // every id pair directly (the oracle still does exactly that).
        val kd = k.select("key").distinct()
        val ch = kd.select(col("key"),
          posexplode(expr("transform(sequence(0, 3), o -> substring(key, o*8+1, 8))"))
            .as(Seq("o", "chunk")))
        val candK = ch.as("a").join(ch.as("b"),
            col("a.o") === col("b.o") && col("a.chunk") === col("b.chunk") &&
            col("a.key") < col("b.key"))
          .select(col("a.key").as("ka"), col("b.key").as("kb"))
          .distinct()
        val verK = candK.withColumn("dist", levenshtein(col("ka"), col("kb")))
          .where(col("dist") <= 3)
        val cross = verK
          .join(k.select(col("key").as("ka"), col("doc_id").as("x")), "ka")
          .join(k.select(col("key").as("kb"), col("doc_id").as("y")), "kb")
          .select(least(col("x"), col("y")).as("a_id"),
                  greatest(col("x"), col("y")).as("b_id"), col("dist"))
        val intra = k.as("x").join(k.as("y"),
            col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
                  lit(0).cast("int").as("dist"))
        cross.union(intra).orderBy("a_id", "b_id")
      },
      Some("""WITH k AS (SELECT doc_id, substr(text, 1, 32) AS key FROM documents),
             |ch AS (SELECT doc_id, key, o, substr(key, o*8+1, 8) AS chunk
             |       FROM k, (SELECT unnest([0,1,2,3]) AS o)),
             |cand AS (SELECT DISTINCT a.doc_id AS a_id, a.key AS ka,
             |                         b.doc_id AS b_id, b.key AS kb
             |         FROM ch a JOIN ch b
             |           ON a.o = b.o AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
             |SELECT a_id, b_id, CAST(levenshtein(ka, kb) AS INTEGER) AS dist
             |FROM cand WHERE levenshtein(ka, kb) <= 3
             |ORDER BY a_id, b_id""".stripMargin),
      note = "fuzzy string join: exact-dup collapse, then positional-chunk blocking (pigeonhole-lossless for substitutions) + Levenshtein once per distinct key pair"),

    // Interval-overlap join — two sets of time intervals matched on
    // "periods intersect", the genomics/session/outage-window shape that a
    // naive engine runs as a per-user cross join with a θ-predicate. The
    // scale plan is grid bucketing: every interval registers in each
    // 1-hour bucket it touches (≤ 2 here, since spans are < 1h by
    // construction), candidates come from an EQUI-join on
    // (user_id, bucket) — high-cardinality keys, per-bucket density bounds
    // the pair space — and the exact predicate verifies candidates only.
    // A pair sharing both buckets would dup, so candidates dedup before
    // the overlap projection. Intervals are integer microseconds derived
    // deterministically from (ts, event_id), engine-exact; view windows ×
    // purchase windows per user model attribution overlap. The oracle is
    // the direct θ-join — equality proves the bucketing loses nothing.
    Q("j_interval_overlap", Seq("J2", "F8", "W1", "session", "§2.10"),
      (s, dir) => {
        val W = 3600L * 1000000L // 1-hour grid, microseconds
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
                  unix_micros(col("ts")).as("s_us"))
          .withColumn("e_us",
            col("s_us") + expr("(600 + (event_id % 50) * 60) * 1000000"))
        def side(t: String, p: String) = ev.where(col("event_type") === t)
          .select(col("user_id"), col("event_id").as(s"${p}_id"),
                  col("s_us").as(s"s$p"), col("e_us").as(s"e$p"))
        val a = side("view", "a")
          .withColumn("bucket", explode(expr(s"sequence(sa div $W, ea div $W)")))
        val b = side("purchase", "b")
          .withColumn("bucket", explode(expr(s"sequence(sb div $W, eb div $W)")))
        a.join(b, Seq("user_id", "bucket"))
          .where(col("sa") <= col("eb") && col("sb") <= col("ea"))
          .select(col("user_id"), col("a_id"), col("b_id"),
                  col("sa"), col("ea"), col("sb"), col("eb"))
          .distinct() // a pair can meet in 2 shared buckets
          .select(col("user_id"), col("a_id"), col("b_id"),
                  (least(col("ea"), col("eb")) -
                   greatest(col("sa"), col("sb"))).as("overlap_us"))
          .orderBy("user_id", "a_id", "b_id")
      },
      Some("""WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS sa,
             |    epoch_us(ts) + (600 + (event_id % 50) * 60) * 1000000 AS ea
             |  FROM events WHERE event_type = 'view'),
             |b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS sb,
             |    epoch_us(ts) + (600 + (event_id % 50) * 60) * 1000000 AS eb
             |  FROM events WHERE event_type = 'purchase')
             |SELECT a.user_id, a_id, b_id,
             |  least(ea, eb) - greatest(sa, sb) AS overlap_us
             |FROM a JOIN b ON a.user_id = b.user_id AND sa <= eb AND sb <= ea
             |ORDER BY 1, 2, 3""".stripMargin),
      note = "interval-overlap join via 1-hour grid bucketing: equi-join candidates, exact verify; oracle = direct theta-join (completeness proof)"),

    // Skyline (Pareto frontier): the suppliers not DOMINATED on the
    // (best price ↓, order reach ↑) plane — the multi-objective shortlist
    // operator behind sourcing decisions and quality-vs-cost curation
    // frontiers. (Reach = distinct orders served; max-quantity as the
    // second objective saturates at the domain cap of 50 and collapses
    // the frontier to one point — a count objective keeps it a real
    // curve.) Textbook SQL is the O(n²) NOT-EXISTS self-join (the oracle,
    // exact by definition); the Spark plan is an O(n log n) two-phase
    // sweep that never compares pairs: objective pairs are deduplicated,
    // banded by a $1000 price bucket, and a pair survives iff its reach
    // strictly exceeds BOTH (a) the in-band prefix max over (price asc,
    // reach desc) — earlier in-band rows are exactly the
    // better-or-equal-on-price, strict-somewhere dominators — and (b) the
    // running max over strictly lower bands, computed on the BOUNDED band
    // summary (band count tracks the price range / bucket width, a
    // dimension, not the data volume). Exactness over distinct pairs: an
    // earlier element with equal reach must be strictly better on price,
    // so the strict `reach > max` test is precisely non-domination. The
    // price double is only min'd and compared — never summed — so both
    // engines see identical bits; survivors broadcast back onto the
    // per-supplier row.
    Q("j_skyline_pareto", Seq("J1", "W4", "A10", "A13", "F5"),
      (s, dir) => {
        // Shared single materialization: three consumers (pairs, band
        // summary, map-back) would otherwise each recompute the scan +
        // 2-exchange exact count-distinct — 3 full passes over the fact
        // table at scale. Round 12 made this a lazy .cache() (an eager
        // localCheckpoint had been a separate ~1.9s driver job per
        // invocation that also erased catalyst stats); round 13 moves the
        // instance into FrameMemo per ADVICE r12 — raw .cache() relies on
        // CacheManager plan matching for cross-pass reuse, which is exactly
        // what FrameMemo's doc comment calls unreliable once a second SF's
        // entry exists (the bench warm pass runs every query at sf0.001 in
        // the same session). The memo guarantees instance-level reuse and
        // keeps the SF-keyed lifetime discipline uniform.
        val sup = FrameMemo(s, s"$dir#skyline_sup") {
          Tables.lineitem(s, dir)
            .groupBy("l_suppkey")
            .agg(min("l_extendedprice").as("best_price"),
                 countDistinct("l_orderkey").as("reach"))
        }
        val pairs = sup.select("best_price", "reach").distinct()
          .withColumn("band", expr("CAST(best_price * 100 AS BIGINT) div 100000"))
        val wIn = Window.partitionBy("band")
          .orderBy(col("best_price").asc, col("reach").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val bandMax = pairs.groupBy("band").agg(max("reach").as("bq"))
        val wBand = graft.core.Shape.boundedWindow(col("band").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val bandPrefix = bandMax
          .withColumn("lower_max", max("bq").over(wBand))
          .select("band", "lower_max")
        val pm = greatest(col("in_max"), col("lower_max")) // greatest skips nulls
        val sky = pairs
          .withColumn("in_max", max("reach").over(wIn))
          .join(broadcast(bandPrefix), Seq("band"))
          .where(pm.isNull || col("reach") > pm)
          .select("best_price", "reach")
        sup.join(broadcast(sky), Seq("best_price", "reach"))
          .select("l_suppkey", "best_price", "reach")
          .orderBy("l_suppkey")
      },
      Some("""WITH t AS (SELECT l_suppkey, min(l_extendedprice) AS best_price,
             |                  count(DISTINCT l_orderkey) AS reach
             |           FROM lineitem GROUP BY 1)
             |SELECT a.l_suppkey, a.best_price, a.reach
             |FROM t a
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM t b
             |  WHERE b.best_price <= a.best_price AND b.reach >= a.reach
             |    AND (b.best_price < a.best_price OR b.reach > a.reach))
             |ORDER BY a.l_suppkey""".stripMargin),
      note = "2-D skyline as an O(n log n) banded prefix-max sweep (no pair joins); cross-band max on the bounded band summary; oracle = textbook O(n²) NOT EXISTS")
  )
}
