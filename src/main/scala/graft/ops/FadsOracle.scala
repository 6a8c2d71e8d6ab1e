package graft.ops

/** DuckDB-SQL oracle generator for the stateful FADS replay entries.
  *
  * The FADS engine is a sequential loop (graft.fads.Fads.Engine; reference
  * semantics /root/reference/src/main/java/fads/Generalizer.java:97-189,
  * Cluster.java:18-85), which SQL cannot express row-by-row at acceptable
  * cost — so this generator emits a RECURSIVE CTE whose iterations are
  * RELEASE EVENTS, not arrivals. Key equivalences that make that sound:
  *
  *  - The engine releases only when the buffer exceeds `B`, so all arrivals
  *    between two releases bulk-ingest: running per-QID bounds equal the
  *    batch `list_min`/`list_max` folded into the carried bounds, and the
  *    buffer append keeps (arrival, seq) order because the replay input is
  *    sorted by the clock column.
  *  - Cluster-TTL expiry is monotone (an expired cluster stays expired) and
  *    clusters are only READ at release time, so filtering once per release
  *    with the trigger arrival's clock equals the reference's per-arrival
  *    expiry. The end-of-stream drain does not expire (Generalizer.close
  *    semantics): drain iterations skip the filter.
  *  - Every double computation (normalized L1 distance, information loss)
  *    is emitted with the exact IEEE operation order of the Scala engine
  *    (left-fold starting at 0.0, divide by nQid last), so comparisons and
  *    sort keys branch identically; verified bit-exact vs the engine output
  *    at sf0.001/sf0.01 for every replay entry (tools/fads_replay.py is
  *    the independent third implementation used to cross-check).
  *
  * One recursion iteration = one release event (~n/10 on cluster-heavy
  * inputs). Sharded variants fold all shards per iteration (the recursive
  * working table holds one row per shard), which also amortizes DuckDB's
  * per-iteration overhead across shards.
  */
object FadsOracle {

  /** Emit the replay oracle SQL.
    *
    * @param nq          number of QID columns
    * @param k           anonymity parameter
    * @param b           buffer constraint (count trigger)
    * @param ttlMs       cluster reuse TTL, ms
    * @param inputCte    SQL for the `src` CTE (payload rows)
    * @param shardExpr   shard key over `src` (constant "0" = single stream)
    * @param qidExprs    nq DOUBLE exprs over `src`
    * @param pidExpr     BIGINT person-id expr over `src`
    * @param clockExpr   BIGINT processing-clock (ms) expr over `src`
    * @param orderBy     replay order (must make clockExpr nondecreasing)
    * @param payloadSelect final SELECT joining `fout` (shard, oseq, olo_i,
    *                    ohi_i, osup) back to `inp` payload rows
    * @param refDist     reference distance quirk (Generalizer.java:356)
    * @param uniquePid   paper's distinct-PID kNN constraint
    * @param globalNorm  normalize by fixed whole-input domain bounds
    * @param rawExprs    when non-empty: nq DOUBLE exprs over `src` supplying
    *                    the RAW leading tuple fields the Q3 index bug reads
    *                    in the kNN distance (Generalizer.java:355) — carried
    *                    in the buffered struct and used ONLY in the distance
    *                    sort; bounds/containment/loss stay QID-based
    */
  def replaySql(
      nq: Int, k: Int, b: Int, ttlMs: Long,
      inputCte: String, shardExpr: String, qidExprs: Seq[String],
      pidExpr: String, clockExpr: String, orderBy: String,
      payloadSelect: String,
      refDist: Boolean = false, uniquePid: Boolean = true,
      globalNorm: Boolean = false, rawExprs: Seq[String] = Nil): String = {
    val km1 = k - 1
    val R = 1 to nq
    val rawDist = rawExprs.nonEmpty

    val inT = "STRUCT(a BIGINT, s BIGINT, p BIGINT, " +
      R.map(i => s"q$i DOUBLE").mkString(", ") +
      (if (rawDist) ", " + R.map(i => s"r$i DOUBLE").mkString(", ") else "") + ")"
    val clT = "STRUCT(cr BIGINT, cs BIGINT, " +
      R.map(i => s"lo$i DOUBLE, hi$i DOUBLE").mkString(", ") + ")"

    def nlo(i: Int) = if (globalNorm) s"flo_$i" else s"glo${i}_"
    def nhi(i: Int) = if (globalNorm) s"fhi_$i" else s"ghi${i}_"

    // IEEE order mirrors Fads.Engine.distance: left-fold from 0.0, /nq last
    def dist(pq: String, xq: String): String = {
      var s = "0.0"
      for (i <- R) {
        val t =
          if (refDist)
            s"(CASE WHEN ${nhi(i)} != 0 THEN abs($pq$i - $xq$i) / ${nhi(i)} - ${nlo(i)} ELSE 0.0 - ${nlo(i)} END)"
          else
            s"(CASE WHEN (${nhi(i)} - ${nlo(i)}) > 0 THEN abs($pq$i - $xq$i) / (${nhi(i)} - ${nlo(i)}) ELSE 0.0 END)"
        s = s"($s + $t)"
      }
      s"$s / $nq.0"
    }

    def loss(lo: String, hi: String): String = {
      var s = "0.0"
      for (i <- R) {
        val t =
          s"(CASE WHEN (${nhi(i)} - ${nlo(i)}) > 0 THEN ($hi$i - $lo$i) / (${nhi(i)} - ${nlo(i)}) ELSE 0.0 END)"
        s = s"($s + $t)"
      }
      s"$s / $nq.0"
    }

    val fits = R.map(i => s"(pv.q$i > c.lo$i AND pv.q$i < c.hi$i)").mkString(" AND ")

    // wide emit struct: state + output fields, consistent across branches
    val emitFields: Seq[(String, String)] =
      Seq("tag" -> "VARCHAR", "pend" -> s"$inT[]", "buf" -> s"$inT[]",
        "cls" -> s"$clT[]") ++
        R.map(i => s"glo$i" -> "DOUBLE") ++ R.map(i => s"ghi$i" -> "DOUBLE") ++
        Seq("cq" -> "BIGINT", "ln" -> "BIGINT", "os" -> "BIGINT") ++
        R.map(i => s"olo$i" -> "DOUBLE") ++ R.map(i => s"ohi$i" -> "DOUBLE") ++
        Seq("osup" -> "BOOLEAN")

    def emit(kw: (String, String)*): String = {
      val m = kw.toMap
      emitFields.map { case (n, t) =>
        s"'$n': ${m.getOrElse(n, s"NULL::$t")}"
      }.mkString("{", ", ", "}")
    }

    def stateEmit(buf: String, cls: String = "cls1", cq: String = "s_cq"): String =
      emit(Seq("tag" -> "'S'", "pend" -> "pend2", "buf" -> buf, "cls" -> cls,
        "cq" -> cq, "ln" -> "now_") ++
        R.map(i => s"glo$i" -> s"glo${i}_") ++
        R.map(i => s"ghi$i" -> s"ghi${i}_"): _*)

    def outEmit(s: String, lo: Int => String, hi: Int => String, sup: String): String =
      emit(Seq("tag" -> "'O'", "os" -> s, "osup" -> sup) ++
        R.map(i => s"olo$i" -> lo(i)) ++ R.map(i => s"ohi$i" -> hi(i)): _*)

    val pickedExpr =
      if (uniquePid)
        s"list_transform(list_filter(cand, (t, ix) -> ix = list_position(cpids, t.t.p)), z -> z.t)[1:$km1]"
      else
        s"list_transform(cand, z -> z.t)[1:$km1]"

    val (fxCte, fxJoin, fxCols) =
      if (globalNorm)
        (",\nfx AS (SELECT " +
          R.map(i => s"min(q$i) AS flo_$i, max(q$i) AS fhi_$i").mkString(", ") +
          " FROM inp)",
          " CROSS JOIN fx",
          ", " + R.map(i => s"fx.flo_$i, fx.fhi_$i").mkString(", "))
      else ("", "", "")

    val qidSel = qidExprs.zip(R).map { case (e, i) => s"$e AS q$i" }.mkString(", ") +
      (if (rawDist)
        ", " + rawExprs.zip(R).map { case (e, i) => s"$e AS r$i" }.mkString(", ")
      else "")
    val inListElem = "{'a': now, 's': seq, 'p': pid, " +
      R.map(i => s"'q$i': q$i").mkString(", ") +
      (if (rawDist) ", " + R.map(i => s"'r$i': r$i").mkString(", ") else "") + "}"

    // Q3 replay: the kNN sort distance reads the raw leading fields; every
    // other use of tuple values (bounds folds, containment, loss) stays q
    val distPfx = if (rawDist) ("pv.r", "t.r") else ("pv.q", "t.q")
    val candSort =
      s"""list_sort(list_transform(rest,
         |                    t -> {'d': ${dist(distPfx._1, distPfx._2)}, 'a': t.a, 's': t.s, 't': t}))""".stripMargin
    val candExpr =
      if (uniquePid) s"list_filter($candSort, t -> t.t.p != pv.p)"
      else s"($candSort)"

    s"""
WITH RECURSIVE
src AS ($inputCte),
inp AS (
  SELECT src.*, $shardExpr AS shard, $qidSel,
         $pidExpr AS pid, $clockExpr AS now,
         row_number() OVER (PARTITION BY $shardExpr ORDER BY $orderBy) - 1 AS seq
  FROM src
)$fxCte,
init AS (
  SELECT shard, list($inListElem::$inT ORDER BY seq) AS pend
  FROM inp GROUP BY shard
),
st AS (
  SELECT shard, 'S' AS tag, pend,
         []::$inT[] AS buf, []::$clT[] AS cls,
         ${R.map(i => s"'infinity'::DOUBLE AS glo$i").mkString(", ")},
         ${R.map(i => s"'-infinity'::DOUBLE AS ghi$i").mkString(", ")},
         0::BIGINT AS cq, 0::BIGINT AS ln,
         NULL::BIGINT AS os,
         ${R.map(i => s"NULL::DOUBLE AS olo$i").mkString(", ")},
         ${R.map(i => s"NULL::DOUBLE AS ohi$i").mkString(", ")},
         NULL::BOOLEAN AS osup
  FROM init
  UNION ALL
  SELECT shard, u.tag, u.pend, u.buf, u.cls,
         ${R.map(i => s"u.glo$i").mkString(", ")},
         ${R.map(i => s"u.ghi$i").mkString(", ")},
         u.cq, u.ln, u.os,
         ${R.map(i => s"u.olo$i").mkString(", ")},
         ${R.map(i => s"u.ohi$i").mkString(", ")},
         u.osup
  FROM (
    SELECT shard, CASE
      WHEN NOT rel THEN [${stateEmit(buf = "buf2")}]
      WHEN (NOT cank) OR (best IS NOT NULL AND best.l < freshloss) THEN
        [${stateEmit(buf = "rest")},
         ${outEmit("pv.s",
        i => s"CASE WHEN best IS NOT NULL THEN best.c.lo$i ELSE ${nlo(i)} END",
        i => s"CASE WHEN best IS NOT NULL THEN best.c.hi$i ELSE ${nhi(i)} END",
        "best IS NULL")}]
      ELSE
        [${stateEmit(
        buf = "list_filter(rest, t -> NOT list_contains(pseqs, t.s))",
        cls = "list_append(cls1, {'cr': now_, 'cs': s_cq + 1, " +
          R.map(i => s"'lo$i': flo$i, 'hi$i': fhi$i").mkString(", ") + "})",
        cq = "s_cq + 1")},
         ${outEmit("pv.s", i => s"flo$i", i => s"fhi$i", "false")}]
        || list_transform(picked,
             z -> ${outEmit("z.s", i => s"flo$i", i => s"fhi$i", "false")})
      END AS emits
    FROM (
      SELECT *, ${loss("flo", "fhi")} AS freshloss,
             list_transform(picked, z -> z.s) AS pseqs
      FROM (
        SELECT *,
          len(rest) >= $km1 AND len(picked) >= $km1 AS cank,
          ${R.map(i => s"least(pv.q$i, list_min(list_transform(picked, z -> z.q$i))) AS flo$i").mkString(", ")},
          ${R.map(i => s"greatest(pv.q$i, list_max(list_transform(picked, z -> z.q$i))) AS fhi$i").mkString(", ")},
          list_sort(list_transform(
            list_filter(cls1, c -> $fits),
            c -> {'l': ${loss("c.lo", "c.hi")}, 'cr': c.cr, 'cs': c.cs, 'c': c}))[1] AS best
        FROM (
          SELECT *, $pickedExpr AS picked
          FROM (
            SELECT *, list_transform(cand, z -> z.t.p) AS cpids
            FROM (
              SELECT *,
                CASE WHEN rel THEN
                  $candExpr
                ELSE []::STRUCT(d DOUBLE, a BIGINT, s BIGINT, t $inT)[] END AS cand
              FROM (
                SELECT *,
                  CASE WHEN rel THEN buf2[1] END AS pv,
                  CASE WHEN rel THEN buf2[2:] ELSE buf2 END AS rest,
                  CASE WHEN len(take) > 0
                       THEN list_filter(s_cls, c -> c.cr + $ttlMs >= now_)
                       ELSE s_cls END AS cls1
                FROM (
                  SELECT *, s_buf || take AS buf2,
                    CASE WHEN len(take) > 0 THEN take[len(take)].a ELSE s_ln END AS now_,
                    ${R.map(i => s"CASE WHEN len(take) > 0 THEN least(s_glo$i, list_min(list_transform(take, t -> t.q$i))) ELSE s_glo$i END AS glo${i}_").mkString(", ")},
                    ${R.map(i => s"CASE WHEN len(take) > 0 THEN greatest(s_ghi$i, list_max(list_transform(take, t -> t.q$i))) ELSE s_ghi$i END AS ghi${i}_").mkString(", ")},
                    isfull OR (len(take) = 0 AND len(s_buf) > 0) AS rel
                  FROM (
                    SELECT s.shard, s.pend[m + 1:] AS pend2, s.pend[1:m] AS take,
                           len(s.pend) >= m AS isfull,
                           s.buf AS s_buf, s.cls AS s_cls, s.cq AS s_cq, s.ln AS s_ln,
                           ${R.map(i => s"s.glo$i AS s_glo$i").mkString(", ")},
                           ${R.map(i => s"s.ghi$i AS s_ghi$i").mkString(", ")}$fxCols
                    FROM (SELECT *, $b + 1 - len(buf) AS m FROM st
                          WHERE tag = 'S' AND (len(pend) > 0 OR len(buf) > 0)) s$fxJoin
                  ) s0
                ) s1
              ) s2
            ) s3
          ) s4
        ) s5
      ) s6
    ) s7
  ) s8, UNNEST(s8.emits) AS _t(u)
),
fout AS (
  SELECT shard, os AS oseq,
         ${R.map(i => s"olo$i, ohi$i").mkString(", ")}, osup
  FROM st WHERE tag = 'O'
)
$payloadSelect
"""
  }

  // ------------------------------------------------------- entry oracles

  /** The oracle of replay variant `v`, every parameter read from its
    * [[FadsReplays]] row. The payload select lists the input's columns in
    * order, each QID as its `olo`/`ohi` interval and each timestamp as
    * `<c>_us` (DuckDB reads TIMESTAMP(NANOS) parquet at microsecond
    * precision); `withShard` keeps the `shard` column.
    */
  private def variantSql(v: FadsReplays.Variant, withShard: Boolean): String = {
    val in = v.input
    // column `c` of a `src` row, timestamps as epoch-nanos like Spark's
    def sqlCol(c: String) = if (in.tsCols.contains(c)) s"epoch_ns(src.$c)" else s"src.$c"
    def sqlDouble(c: String) =
      if (in.doubles(c)) sqlCol(c) else s"CAST(${sqlCol(c)} AS DOUBLE)"
    val payload = in.cols.flatMap { c =>
      val q = v.qidCols.indexOf(c) + 1
      if (q > 0) Seq(s"o.olo$q AS ${c}_lo", s"o.ohi$q AS ${c}_hi")
      else if (in.tsCols.contains(c)) Seq(s"epoch_us(i.$c) AS ${c}_us")
      else Seq(s"i.$c")
    } ++ (if (withShard) Seq("i.shard") else Nil) :+ "o.osup AS suppressed"
    replaySql(
      nq = v.cfg.nQid, k = v.cfg.k, b = v.cfg.bufferConstraint,
      ttlMs = v.cfg.reuseTtlMs,
      inputCte = in.cte,
      shardExpr = v.shard.fold("0")(_.sql),
      qidExprs = v.qidCols.map(sqlDouble),
      pidExpr = sqlCol(v.pidCol),
      clockExpr = v.clock.sql,
      orderBy = v.orderCols.map(c => s"src.$c").mkString(", "),
      payloadSelect = payload.mkString("SELECT ", ", ",
        "\nFROM fout o JOIN inp i ON i.shard = o.shard AND i.seq = o.oseq"),
      refDist = v.cfg.quirks.referenceDistance,
      uniquePid = v.cfg.quirks.uniquePid,
      globalNorm = v.globalNorm,
      rawExprs = v.rawCols.map(sqlDouble))
  }

  /** Oracles for the seven stateful replay entries: one per variant, and
    * the STREAMING region-sharded run, which replays the identical
    * per-shard sequential order (in-order chunks through one per-shard
    * state, sentinel drain) and so shares the batch twin's oracle — minus
    * the shard column, which the GenEvent streaming schema doesn't carry.
    * int64→double conversion rounds identically in both engines (IEEE
    * nearest), so the raw-field variant's huge nanos stay bit-comparable.
    */
  val oracles: Map[String, String] =
    FadsReplays.variants.map(v =>
      v.key -> variantSql(v, withShard = v.shard.isDefined)).toMap +
      ("stream_fads_region_sharded" ->
        variantSql(FadsReplays("q9_fads_region_sharded"), withShard = false))
}
