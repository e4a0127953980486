package graft

import graft.ext.TextOps

/** DuckDB oracle SQL paired with QueryDefs: the IDENTICAL arithmetic as
  * the Spark queries, expressed in ANSI-ish SQL over the same parquet
  * tables (registered by the driver as lineitem/supplier/part/orders/
  * nation/documents/embeddings/events). Everything hash-sensitive —
  * md5-derived keys, rounding, tie-breaks, integer widths — is mirrored
  * exactly; see TestMapping for the shared domain mapping.
  *
  * DuckDB portability constraints honored throughout: RE2 regexes (no
  * lookaround), single-quoted patterns (backslashes literal), 1-based
  * inclusive list slicing, WITH RECURSIVE heading mixed CTE lists.
  */
object OracleSql {

  // ---------------------------------------------------- shared fragments
  private def chrSql(k: String): String =
    s"CASE WHEN ($k)%25=0 THEN 'MT' WHEN ($k)%25=23 THEN 'X' " +
    s"WHEN ($k)%25=24 THEN 'Y' ELSE CAST(($k)%25 AS VARCHAR) END"

  private def fragSql(k: String): String =
    s"${chrSql(k)}||'_'||(($k)*1000)||'_'||(($k)*1000+999)"

  /** Interactions.normalizeNames in DuckDB. */
  // NB coalesce(...,''): DuckDB's array_to_string([]) is NULL where
  // Spark's concat_ws over an empty array is ''.
  private def normSql(bag: String): String =
    raw"coalesce(array_to_string(list_sort(list_distinct(list_filter(" +
    raw"string_split_regex(regexp_replace(coalesce($bag,''), '-\d+\b', '', 'g'), '\s+'), " +
    raw"t -> t <> '' AND t <> '.'))), ' '), '')"

  /** Annotate.collapse in DuckDB (sorted-distinct space collapse). */
  private def collapseSql(c: String): String =
    s"array_to_string(list_sort(list_distinct(list(coalesce($c,'NA')))), ' ')"

  private val baseCtes: String = raw"""
inter AS (
  SELECT ${chrSql("l_suppkey")} AS baitchr, l_suppkey*1000 AS baitstart,
         l_suppkey*1000+999 AS baitend, l_suppkey AS baitid,
         CASE WHEN l_suppkey%13=0 THEN '.'
              ELSE 'S'||l_suppkey
                   ||CASE WHEN l_suppkey%7=0 THEN '-1' ELSE '' END
                   ||CASE WHEN l_suppkey%5=0 THEN ' ALT'||l_suppkey ELSE '' END
         END AS baitname,
         ${chrSql("l_partkey")} AS oechr, l_partkey*1000 AS oestart,
         l_partkey*1000+999 AS oeend, l_partkey AS oeid,
         'P'||l_partkey AS oename,
         abs(l_partkey - l_suppkey)*1000 AS dist,
         l_quantity AS score
  FROM lineitem),
filtered AS (SELECT * FROM inter
  WHERE score > 25.0 AND baitchr NOT LIKE '%MT%' AND oechr NOT LIKE '%MT%'),
redges AS (SELECT baitchr||'_'||baitstart||'_'||baitend AS src,
                  oechr||'_'||oestart||'_'||oeend AS dst, score FROM filtered),
simplified AS (SELECT src, dst, score FROM (
  SELECT src, dst, score, row_number() OVER (
    PARTITION BY least(src,dst), greatest(src,dst)
    ORDER BY score, src, dst) AS rn
  FROM redges WHERE src <> dst) t WHERE rn = 1),
typed AS (SELECT s.src, s.dst, s.score,
                 CASE WHEN b.bait IS NOT NULL THEN 'P-P' ELSE 'P-O' END AS type
          FROM simplified s LEFT JOIN
               (SELECT DISTINCT src AS bait FROM simplified) b
               ON s.dst = b.bait),
halves AS (
  SELECT baitchr||'_'||baitstart||'_'||baitend AS fragment,
         coalesce(baitname,'') AS gene_names, baitchr AS chr,
         baitstart AS "start", baitend AS "end", 'P' AS type FROM filtered
  UNION ALL
  SELECT oechr||'_'||oestart||'_'||oeend, coalesce(oename,''), oechr,
         oestart, oeend, 'O' FROM filtered),
vgrp AS (SELECT fragment,
  coalesce(string_agg(CASE WHEN type='P' THEN gene_names END, ' '), '') AS p_bag,
  coalesce(string_agg(CASE WHEN type='O' THEN gene_names END, ' '), '') AS o_bag,
  min(chr) AS chr, min("start") AS "start", min("end") AS "end",
  max(type) AS type
  FROM halves GROUP BY fragment),
verts AS (SELECT fragment,
  ${normSql("CASE WHEN type='P' THEN p_bag ELSE o_bag END")} AS gene_names,
  chr, "start", "end", type FROM vgrp),
sfeat AS (
  SELECT ${fragSql("s_suppkey")} AS fragment, 'bal' AS feature,
         s_acctbal AS value FROM supplier
  UNION ALL
  SELECT ${fragSql("s_suppkey")}, 'cls', CAST(s_nationkey AS DOUBLE)
  FROM supplier),
pfeat AS (
  SELECT ${fragSql("p_partkey")} AS fragment, 'bal' AS feature,
         p_retailprice AS value FROM part
  UNION ALL
  SELECT ${fragSql("p_partkey")}, 'cls', CAST(p_size AS DOUBLE) FROM part),
features AS (
  SELECT p.* FROM pfeat p WHERE NOT EXISTS (
    SELECT 1 FROM sfeat s
    WHERE s.fragment=p.fragment AND s.feature=p.feature)
  UNION ALL SELECT * FROM sfeat),
degs AS (SELECT id, count(*) AS degree FROM (
  SELECT src AS id FROM simplified
  UNION ALL SELECT dst FROM simplified) t GROUP BY id)"""

  /** Connected components by UNROLLED min-label propagation instead of
    * a recursive transitive closure: the closure materializes
    * O(n · component_size) (id, reach) rows — quadratic on dense
    * graphs, the sf1 oracle OOM — where each propagation level here is
    * exactly |V| rows (plus |E| join work). Every level does a
    * neighbor-min then a label-pointer chase (l[l[v]]), so label
    * chains shorten geometrically and [[A6Levels]] levels cover far
    * more than [[A6Levels]] plain hops. Convergence is CHECKED, not
    * assumed: if one more neighbor-min would still lower any label,
    * `comps` emits a poison row, turning an under-iterated oracle into
    * a visible row-count mismatch instead of a silent agreement —
    * same contract as the a7 cap poison. */
  private val A6Levels = 16
  private def a6Level(k: Int): String = {
    val p = s"l${k - 1}"
    raw"""
n$k AS MATERIALIZED (
  SELECT v.id, least(v.lbl, coalesce(min(nl.lbl), v.lbl)) AS lbl
  FROM $p v LEFT JOIN tsym e ON e.src = v.id
            LEFT JOIN $p nl ON nl.id = e.dst
  GROUP BY v.id, v.lbl),
l$k AS MATERIALIZED (
  SELECT a.id, least(a.lbl, coalesce(b.lbl, a.lbl)) AS lbl
  FROM n$k a LEFT JOIN n$k b ON b.id = a.lbl)"""
  }
  /** g9 fixed-point PageRank replay: P9Rounds power iterations over
    * the thin graph's symmetric edge list, all-LONG arithmetic
    * (GraphOps.pageRank). `sum`/`85*` pass through HUGEINT and are
    * cast back; `//` = Spark's `div` on non-negative longs. Every
    * round is MATERIALIZED — pr$k has two consumers (the contribution
    * join and nothing else, but the chain is deep enough that default
    * inlining would re-evaluate the prefix per reference). */
  /** g10 label-propagation replay: LpRounds synchronous rounds over
    * tsym — neighbor-label counts, argmax by (count DESC, label ASC).
    * Each round MATERIALIZED (the prCtes lesson). */
  private val LpRounds = 4
  private val lpCtes: String = raw"""
lpr0 AS MATERIALIZED (SELECT id, id AS lab FROM tnodes)""".drop(1) + "," +
    (1 to LpRounds).map { k => raw"""
lpr$k AS MATERIALIZED (SELECT id, lab FROM (
  SELECT e.dst AS id, p.lab, count(*) AS c,
         row_number() OVER (PARTITION BY e.dst
           ORDER BY count(*) DESC, p.lab) AS rn
  FROM tsym e JOIN lpr${k - 1} p ON p.id = e.src
  GROUP BY e.dst, p.lab) t WHERE rn = 1)""".drop(1)
    }.mkString(",")

  private val P9Rounds = 10
  private val prCtes: String = raw"""
prdeg AS MATERIALIZED (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
  FROM tsym GROUP BY src),
pr0 AS MATERIALIZED (SELECT id, CAST(1000000000 AS BIGINT) AS r, deg
  FROM prdeg)""".drop(1) + "," +
    (1 to P9Rounds).map { k => raw"""
pr$k AS MATERIALIZED (
  SELECT d.id, CAST(150000000 + (85 * s.s) // 100 AS BIGINT) AS r, d.deg
  FROM prdeg d JOIN (
    SELECT e.dst AS id, sum(p.r // p.deg) AS s
    FROM tsym e JOIN pr${k - 1} p ON p.id = e.src GROUP BY e.dst) s
  USING (id))""".drop(1)
    }.mkString(",")

  private val thinCtes: String = raw"""
thin AS (SELECT src, dst FROM simplified WHERE score > 47.0),
tsym AS (SELECT src, dst FROM thin UNION ALL SELECT dst, src FROM thin),
tnodes AS (SELECT DISTINCT src AS id FROM tsym),
l0 AS MATERIALIZED (SELECT id, id AS lbl FROM tnodes),""" +
    (1 to A6Levels).map(a6Level).mkString(",") + raw""",
conv AS (SELECT count(*) AS nbad
  FROM l$A6Levels v JOIN tsym e ON e.src = v.id
  JOIN l$A6Levels nl ON nl.id = e.dst WHERE nl.lbl < v.lbl),
comps AS (
  SELECT id, lbl AS comp FROM l$A6Levels
  WHERE (SELECT nbad FROM conv) = 0
  UNION ALL
  SELECT '__UNCONVERGED__' AS id, '__UNCONVERGED__' AS comp
  WHERE (SELECT nbad FROM conv) > 0)"""

  private def gq(body: String, extra: String = ""): String =
    s"WITH RECURSIVE $baseCtes${if (extra.nonEmpty) "," + extra else ""}\n$body"

  /** a7_diameter oracle: TRUE diameter of the whole thin graph via a
    * manually unrolled semi-naive BFS — per-level delta CTEs, each
    * deduped and materialized, so the work is real BFS (frontier ×
    * degree per level), not the walk-enumeration blow-up a recursive
    * (s,n,d) CTE suffers. Levels are capped at [[A7Cap]]; if the deepest
    * delta is still non-empty the oracle poisons the value (-1), turning
    * an under-capped compare into a visible mismatch instead of a silent
    * agreement. The TRUE literal in `exact` pins the Spark side's
    * certification: a lower-bound-only result fails the hash gate. */
  private val A7Cap = 16
  private val a7CertSql: String = {
    val deltas = (1 to A7Cap).flatMap { k => Seq(
      s"""d$k AS MATERIALIZED (
  SELECT DISTINCT p.s, e.dst AS n FROM d${k - 1} p JOIN tsym e ON p.n = e.src
  WHERE NOT EXISTS (SELECT 1 FROM r${k - 1} r WHERE r.s = p.s AND r.n = e.dst))""",
      s"r$k AS MATERIALIZED (SELECT s, n FROM r${k - 1} UNION ALL SELECT s, n FROM d$k)")
    }
    val lvls = (0 to A7Cap)
      .map(k => s"SELECT $k AS k, count(*) AS c FROM d$k")
      .mkString(" UNION ALL ")
    gq(s"""
SELECT CAST(CASE WHEN max(CASE WHEN c > 0 THEN k END) >= $A7Cap THEN -1
            ELSE max(CASE WHEN c > 0 THEN k END) END AS BIGINT) AS diameter,
       TRUE AS exact
FROM lvls""",
      extra = thinCtes.drop(1) + s""",
d0 AS MATERIALIZED (SELECT src AS s, src AS n FROM tsym GROUP BY 1, 2),
r0 AS MATERIALIZED (SELECT s, n FROM d0),
${deltas.mkString(",\n")},
lvls AS ($lvls)""")
  }

  /** a7_diameter_cert oracle: re-verify the engine's iFUB certificate
    * INDEPENDENTLY — a semi-naive unrolled BFS seeded with ONLY the
    * engine-listed witness sources (2 per component: root pivot +
    * diameter witness, dumped to the fixture dir by the Spark query),
    * recomputing each listed source's exact eccentricity and
    * diameter = max(ecc). Row cost is Σ_sources |reachable| ≤ 2·V
    * TOTAL (each component contributes its 2 sources only), so this
    * stays linear-ish at ANY SF — unlike the all-pairs closure of
    * [[a7CertSql]], which is inherently quadratic and oracle-OOMs at
    * sf1. Levels capped at [[A7CertCap]] with the standard poison row
    * (an under-capped compare shows as a row mismatch, never silent
    * agreement). */
  private val A7CertCap = 64
  private val a7DiamCertSql: String = {
    // ctsym: the thin symmetrized edge frame materialized ONCE —
    // plain `tsym` would inline the whole scan→filter→simplify CTE
    // chain into every one of the 64 level joins (observed: 37 GB of
    // spill at sf1 for a depth-9 BFS; with the materialization the
    // same run is seconds-per-level hash probes)
    val deltas = (1 to A7CertCap).flatMap { k => Seq(
      s"""cd$k AS MATERIALIZED (
  SELECT DISTINCT p.s, e.dst AS n FROM cd${k - 1} p JOIN ctsym e ON p.n = e.src
  WHERE NOT EXISTS (SELECT 1 FROM cr${k - 1} r WHERE r.s = p.s AND r.n = e.dst))""",
      s"cr$k AS MATERIALIZED (SELECT s, n FROM cr${k - 1} UNION ALL SELECT s, n FROM cd$k)")
    }
    val lvls = (0 to A7CertCap)
      .map(k => s"SELECT s, $k AS k FROM cd$k")
      .mkString(" UNION ALL ")
    gq(s"""
SELECT source, ecc, CAST(max(ecc) OVER () AS BIGINT) AS diameter FROM eccs""",
      extra = thinCtes.drop(1) + s""",
ctsym AS MATERIALIZED (SELECT src, dst FROM tsym),
certsrc AS (SELECT source FROM read_csv(
  '/tmp/graft_fixtures/a7_cert___SF_TOKEN__/sources.csv', header=true,
  columns={'source':'VARCHAR'})),
cd0 AS MATERIALIZED (SELECT source AS s, source AS n FROM certsrc),
cr0 AS MATERIALIZED (SELECT s, n FROM cd0),
${deltas.mkString(",\n")},
clvl AS ($lvls),
eccs AS (
  SELECT s AS source, CAST(max(k) AS BIGINT) AS ecc FROM clvl GROUP BY s
  UNION ALL
  SELECT '__UNDERCAPPED__' AS source, CAST(-1 AS BIGINT) AS ecc
  WHERE EXISTS (SELECT 1 FROM cd$A7CertCap))""")
  }

  /** sf1-OVERRIDE oracles for the three all-pairs diameter closures.
    * The full-closure oracles above ([[a7CertSql]] and the
    * a7_diameter_exact BFS-from-every-node) are inherently quadratic —
    * they OOM DuckDB at sf1 (the board's only 3 non-OK rows through
    * round 11). These overrides re-judge the SAME lane outputs in the
    * CERTIFICATE form the verdict blessed for a7_diameter_cert: one
    * bounded BFS per engine-dumped witness source (root pivot +
    * diameter witness, ≤2 per component — Σ reachable ≤ 2·V rows at
    * ANY SF), diameter = max recomputed ecc, the standard -1 poison if
    * the level cap is hit. Witness BFS alone only proves the claimed
    * diameter is ACHIEVED (an under-reporting engine could dump
    * witnesses consistent with the wrong value — ADVICE r12), so the
    * source set also includes an ORACLE-CHOSEN probe: 8 vertices
    * sampled deterministically by md5 order, independent of anything
    * the engine dumped; any probe whose recomputed ecc exceeds the
    * engine diameter makes the oracle max larger than the engine
    * value — a mismatch. check.py reports these lanes as OK_CERT so
    * the artifact never conflates a certificate pass with a
    * full-closure pass. Verify dumps these into a SEPARATE
    * oracle_sql_sf1.json; tools/check_sf1.py overlays them, so the
    * driver's sf0.01 gate keeps the stronger all-pairs oracles and the
    * sf1 sweep certifies all lanes. a7_diameter_exact's witnesses come
    * from its own pp-slice fixture (the lane dumps a7_exact_cert_*
    * alongside its scalar result). */
  val sf1Overrides: Map[String, String] = {
    def certBfs(fix: String, symCte: String, select: String): String = {
      val deltas = (1 to A7CertCap).flatMap { k => Seq(
        s"""cd$k AS MATERIALIZED (
  SELECT DISTINCT p.s, e.dst AS n FROM cd${k - 1} p JOIN csym e ON p.n = e.src
  WHERE NOT EXISTS (SELECT 1 FROM cr${k - 1} r WHERE r.s = p.s AND r.n = e.dst))""",
        s"cr$k AS MATERIALIZED (SELECT s, n FROM cr${k - 1} UNION ALL SELECT s, n FROM cd$k)")
      }
      val lvls = (0 to A7CertCap)
        .map(k => s"SELECT s, $k AS k FROM cd$k")
        .mkString(" UNION ALL ")
      gq(select,
        extra = thinCtes.drop(1) + s""",
$symCte,
certwit AS (SELECT source FROM read_csv(
  '/tmp/graft_fixtures/${fix}___SF_TOKEN__/sources.csv', header=true,
  columns={'source':'VARCHAR'})),
certsamp AS (SELECT src AS source FROM (
  SELECT DISTINCT src FROM csym
  ORDER BY md5(CAST(src AS VARCHAR)) LIMIT 8) sm),
certsrc AS (SELECT source FROM certwit
  UNION SELECT source FROM certsamp),
cd0 AS MATERIALIZED (SELECT source AS s, source AS n FROM certsrc),
cr0 AS MATERIALIZED (SELECT s, n FROM cd0),
${deltas.mkString(",\n")},
clvl AS ($lvls),
eccs AS (SELECT s AS source, CAST(max(k) AS BIGINT) AS ecc
  FROM clvl GROUP BY s)""")
    }
    val thinSym = "csym AS MATERIALIZED (SELECT src, dst FROM tsym)"
    val ppSym = raw"""ppthin AS MATERIALIZED (SELECT src, dst FROM thin
  WHERE dst IN (SELECT src FROM thin)),
csym AS MATERIALIZED (SELECT src, dst FROM ppthin
  UNION ALL SELECT dst, src FROM ppthin)"""
    // coalesce like exactSel: an empty witness fixture (degenerate
    // slice, or the cert lane not yet run before a sweep) must yield
    // a clean 0-vs-engine verdict, not a NULL mismatch (ADVICE r12)
    val diamSel = s"""
SELECT CAST(CASE WHEN EXISTS (SELECT 1 FROM cd$A7CertCap) THEN -1
            ELSE (SELECT coalesce(max(ecc), 0) FROM eccs) END AS BIGINT)
       AS diameter,
       TRUE AS exact"""
    val exactSel = s"""
SELECT CAST(CASE WHEN EXISTS (SELECT 1 FROM cd$A7CertCap) THEN -1
            ELSE (SELECT coalesce(max(ecc), 0) FROM eccs) END AS BIGINT)
       AS diameter"""
    Map(
      "a7_diameter" -> certBfs("a7_cert", thinSym, diamSel),
      "a7_diameter_dist" -> certBfs("a7_cert", thinSym, diamSel),
      "a7_diameter_exact" -> certBfs("a7_exact_cert", ppSym, exactSel))
  }

  private val fintervalsCte: String = raw"""
fintervals AS (SELECT ${chrSql("k")} AS chr,
  k*1000 + o_orderkey%1500 AS "start",
  k*1000 + o_orderkey%1500 + o_orderkey%800 + 100 AS "end",
  'f'||(o_orderkey%3) AS feature, o_totalprice AS value
  FROM (SELECT o_orderkey, o_orderkey%2000 AS k, o_totalprice FROM orders) o
  WHERE k%3 <> 0)"""

  private val a15Tail: String = raw"""
SELECT f.fragment, ft.feature, round(coalesce(c.value, 0.0), 6) AS value
FROM (SELECT fragment FROM verts) f
CROSS JOIN (SELECT DISTINCT feature FROM fintervals) ft
LEFT JOIN cov c ON c.fragment=f.fragment AND c.feature=ft.feature"""

  private def a15Sql(agg: String): String = gq(raw"""
, cov AS (SELECT f.fragment, i.feature, $agg AS value
  FROM verts f JOIN fintervals i
  ON f.chr=i.chr AND f."start"<=i."end" AND f."end">=i."start"
  GROUP BY f.fragment, i.feature)
$a15Tail""",
    extra = fintervalsCte.drop(1))

  /** Covered-proportion a15: running-max interval union per (fragment,
    * feature) before the sum — mirrors Chas.aggregateOntoFragments's
    * proportion branch exactly. */
  private val a15PropSql: String = gq(raw"""
, segs AS (SELECT DISTINCT f.fragment, i.feature,
    greatest(f."start", i."start") AS ss, least(f."end", i."end") AS se,
    f."end" - f."start" + 1 AS flen
  FROM verts f JOIN fintervals i
  ON f.chr=i.chr AND f."start"<=i."end" AND f."end">=i."start"),
sgrp AS (SELECT *, sum(CASE WHEN pm IS NULL OR ss > pm THEN 1 ELSE 0 END)
    OVER (PARTITION BY fragment, feature ORDER BY ss, se
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM (SELECT *, max(se) OVER (PARTITION BY fragment, feature
          ORDER BY ss, se
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM segs) t),
mrg AS (SELECT fragment, feature, grp, max(se) - min(ss) + 1 AS clen,
    min(flen) AS flen FROM sgrp GROUP BY fragment, feature, grp),
cov AS (SELECT fragment, feature,
    CAST(sum(clen)/min(flen) AS DOUBLE) AS value
  FROM mrg GROUP BY fragment, feature)
$a15Tail""",
    extra = fintervalsCte.drop(1))

  /** The swap-rounds chain of Chas.randomize/randomizeTagged, mirrored
    * round by round: given CTE r0(replica, bin, src, dst), emits CTEs
    * r1..r<rounds> applying the seeded pairing (md5-ordered window +
    * lead), the validity precheck, the fused minted+existing key audit
    * (scoped per group = split_part(bin,'|',1), mirroring the engine:
    * each tagged subnet audits only against its own edges), and the
    * accept/reject emission — the same arithmetic the Spark loop runs,
    * so a14/a17/g6 get full hash oracles instead of rows-only
    * checks. */
  private def swapRoundsSql(rounds: Int, seed: Long): String =
    (0 until rounds).map { r =>
      val salt = seed + 1000003L * r
      // MATERIALIZED exactly on the multi-consumer frames: chk$r (the
      // post-window frame — feeds mint + flag, so inlining re-runs the
      // 20M-row md5 window sort up to 5x and spills the oracle box's
      // disk dry at sf1) and flag$r (read twice by r${r + 1}); the
      // single-path intermediates (p, pair, mint, bad, badp) inline.
      // The old everything-MATERIALIZED version instead held
      // rounds x |E| temp blocks alive at once and OOMed — both
      // failure modes are sf1-scale only.
      raw"""
p$r AS (SELECT replica, bin, src, dst,
  CAST(strpos('0123456789abcdef',
    substr(md5(src||'|'||dst||'|'||replica||'|'||'$salt'), 1, 1)) - 1
    AS BIGINT) AS sb,
  row_number() OVER w$r AS i, lead(src) OVER w$r AS ps, lead(dst) OVER w$r AS pd
  FROM r$r
  WINDOW w$r AS (PARTITION BY replica, bin,
    substr(md5(src||'|'||dst||'|'||replica||'|'||'$salt'), 1, 1)
    ORDER BY md5(src||'|'||dst||'|'||replica||'|'||'$salt'), src, dst)),
pair$r AS (SELECT replica, bin, sb*1000000000 + (i+1)//2 AS p,
  src AS ls, dst AS ld, ps AS rs, pd AS rd FROM p$r WHERE i % 2 = 1),
chk$r AS MATERIALIZED (SELECT *, (rs IS NOT NULL AND ls <> rd AND rs <> ld
  AND NOT (least(ls,rd) = least(rs,ld) AND greatest(ls,rd) = greatest(rs,ld)))
  AS pre FROM pair$r),
mint$r AS (SELECT replica, bin, p, least(ls,rd) AS u, greatest(ls,rd) AS v
  FROM chk$r WHERE pre
  UNION ALL
  SELECT replica, bin, p, least(rs,ld), greatest(rs,ld) FROM chk$r WHERE pre),
bad$r AS (SELECT replica, grp, u, v FROM (
    SELECT replica, grp, u, v,
      sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS ine,
      sum(CASE WHEN p IS NULL THEN 0 ELSE 1 END) AS mnt
    FROM (SELECT replica, split_part(bin,'|',1) AS grp, p, u, v FROM mint$r
          UNION ALL
          SELECT replica, split_part(bin,'|',1), NULL,
                 least(src,dst), greatest(src,dst)
          FROM r$r) t
    GROUP BY replica, grp, u, v) g WHERE ine > 0 OR mnt > 1),
badp$r AS (SELECT DISTINCT m.replica, m.bin, m.p FROM mint$r m
  JOIN bad$r b ON m.replica = b.replica
  AND split_part(m.bin,'|',1) = b.grp AND m.u = b.u AND m.v = b.v),
flag$r AS MATERIALIZED (SELECT c.*, coalesce(c.pre AND bp.p IS NOT NULL, FALSE) AS hit,
  (c.pre AND bp.p IS NULL) AS acc
  FROM chk$r c LEFT JOIN badp$r bp
  ON c.replica = bp.replica AND c.bin = bp.bin AND c.p = bp.p),
r${r + 1} AS MATERIALIZED (
  SELECT replica, bin, ls AS src,
         CASE WHEN acc THEN rd ELSE ld END AS dst FROM flag$r
  UNION ALL
  SELECT replica, bin, rs, CASE WHEN acc THEN ld ELSE rd END
  FROM flag$r WHERE rs IS NOT NULL)"""
    }.mkString(",")

  /** r0 for the plain (untagged) randomizer over `simplified`. */
  private def plainR0(nReplicates: Int): String =
    s"""r0 AS MATERIALIZED (SELECT t.replica, 'all|all' AS bin, src, dst
  FROM simplified, (SELECT unnest(generate_series(0, ${nReplicates - 1}))
  AS replica) t)"""

  /** Final CTE of the swap chain — tied to the engine's round count. */
  private val rN = s"r${graft.core.Chas.DefaultRounds}"

  val randomizeOracles: Map[String, String] = Map(
    "g6_randomize" -> gq(s"SELECT replica, src, dst FROM $rN",
      extra = plainR0(2) + "," + swapRoundsSql(graft.core.Chas.DefaultRounds, 42L)),
    "a14_random_chas_envelope" -> gq(raw"""
SELECT feature, round(min(chas), 6) AS chas_min,
       round(max(chas), 6) AS chas_max FROM (
  SELECT f1.feature, e.replica, corr(f1.value, f2.value) AS chas FROM
    (SELECT replica, src, dst FROM $rN
     UNION ALL SELECT replica, dst, src FROM $rN) e
  JOIN features f1 ON e.src = f1.fragment
  JOIN features f2 ON e.dst = f2.fragment AND f1.feature = f2.feature
  GROUP BY f1.feature, e.replica) t GROUP BY feature""",
      extra = plainR0(3) + "," + swapRoundsSql(graft.core.Chas.DefaultRounds, 42L)),
    "a17_features_metadata" -> gq(raw"""
SELECT a.subnet, a.feature,
       round(a.abundance, 2) AS abundance,
       round(o.chas, 3) AS chas,
       printf('%.3f,%.3f', e.cmin, e.cmax) AS random_chas_interval,
       round(m.mean_degree, 2) AS mean_degree
FROM (SELECT tn.subnet, f.feature, avg(f.value) AS abundance
      FROM features f JOIN (SELECT DISTINCT subnet, id FROM
        (SELECT subnet, src AS id FROM tagged
         UNION ALL SELECT subnet, dst FROM tagged) u) tn
      ON f.fragment = tn.id GROUP BY tn.subnet, f.feature) a
LEFT JOIN (SELECT tsym.subnet, f1.feature, corr(f1.value, f2.value) AS chas
      FROM (SELECT subnet, src, dst FROM tagged
            UNION ALL SELECT subnet, dst, src FROM tagged) tsym
      JOIN features f1 ON tsym.src = f1.fragment
      JOIN features f2 ON tsym.dst = f2.fragment AND f1.feature = f2.feature
      GROUP BY tsym.subnet, f1.feature) o
  ON o.subnet = a.subnet AND o.feature = a.feature
LEFT JOIN (SELECT sd.subnet, f.feature, avg(sd.degree) AS mean_degree
      FROM features f JOIN (SELECT subnet, id, count(*) AS degree FROM
        (SELECT subnet, src AS id FROM tagged
         UNION ALL SELECT subnet, dst FROM tagged) x GROUP BY subnet, id) sd
      ON f.fragment = sd.id WHERE f.value <> 0
      GROUP BY sd.subnet, f.feature) m
  ON m.subnet = a.subnet AND m.feature = a.feature
LEFT JOIN (SELECT subnet, feature, min(chas) AS cmin, max(chas) AS cmax FROM (
      SELECT rsym.subnet, f1.feature, rsym.replica,
             corr(f1.value, f2.value) AS chas
      FROM (SELECT replica, string_split(bin, '|')[1] AS subnet, src, dst
            FROM $rN
            UNION ALL
            SELECT replica, string_split(bin, '|')[1], dst, src FROM $rN) rsym
      JOIN features f1 ON rsym.src = f1.fragment
      JOIN features f2 ON rsym.dst = f2.fragment AND f1.feature = f2.feature
      GROUP BY rsym.subnet, f1.feature, rsym.replica) q
      GROUP BY subnet, feature) e
  ON e.subnet = a.subnet AND e.feature = a.feature""",
      extra = raw"""
tagged AS MATERIALIZED (SELECT src, dst, 'net' AS subnet FROM typed
  UNION ALL SELECT src, dst,
    CASE WHEN type = 'P-P' THEN 'pp' ELSE 'po' END FROM typed),
r0 AS MATERIALIZED (SELECT t.replica, subnet||'|all' AS bin, src, dst
  FROM tagged, (SELECT unnest(generate_series(0, 2)) AS replica) t),""".drop(1)
        + swapRoundsSql(graft.core.Chas.DefaultRounds, 42L)))

  // ------------------------------------------------------- graph oracles
  val graph: Map[String, String] = Map(
    "f1_threshold_filter" -> gq("SELECT * FROM filtered"),
    "f2_chromosome_filter" ->
      gq("SELECT * FROM filtered WHERE baitchr='7' OR oechr='7'"),
    "f3_pp_only" -> gq("SELECT * FROM typed WHERE type='P-P'"),
    "a1_vertices" -> gq("SELECT * FROM verts"),
    "g2_simplify" -> gq("SELECT * FROM simplified"),
    "j9_edge_types" -> gq("SELECT * FROM typed"),
    "a4_degree" -> gq("SELECT * FROM degs"),
    "a5_graph_metadata" -> gq(raw"""
SELECT n.nodes, n.promoters, n.other_ends, e.edges, e.pp_edges, e.po_edges,
       e.interchromosomal, round(2.0*e.edges/n.nodes, 2) AS mean_degree
FROM (SELECT count(*) AS nodes,
             CAST(sum(CASE WHEN type='P' THEN 1 ELSE 0 END) AS BIGINT) AS promoters,
             CAST(sum(CASE WHEN type='O' THEN 1 ELSE 0 END) AS BIGINT) AS other_ends
      FROM verts) n,
     (SELECT count(*) AS edges,
             CAST(sum(CASE WHEN type='P-P' THEN 1 ELSE 0 END) AS BIGINT) AS pp_edges,
             CAST(sum(CASE WHEN type='P-O' THEN 1 ELSE 0 END) AS BIGINT) AS po_edges,
             CAST(sum(CASE WHEN string_split(src,'_')[1] <> string_split(dst,'_')[1]
                      THEN 1 ELSE 0 END) AS BIGINT) AS interchromosomal
      FROM typed) e"""),
    "a6_components" -> gq("SELECT * FROM comps", extra = thinCtes.drop(1)),
    // pageRank mirrored: P9Rounds macro-expanded integer power
    // iterations on the same thin/tsym frames as a6/a7
    "g9_pagerank" -> gq(s"SELECT id, r AS rank_fp FROM pr$P9Rounds",
      extra = thinCtes.drop(1) + "," + prCtes),
    // the forced-distributed twin runs the SAME oracle: the hash match
    // IS the regime-equivalence proof (a6_dist precedent)
    "g9_pagerank_dist" -> gq(s"SELECT id, r AS rank_fp FROM pr$P9Rounds",
      extra = thinCtes.drop(1) + "," + prCtes),
    // labelPropagation mirrored: LpRounds synchronous rounds, each a
    // neighbor-label count + (count DESC, label ASC) argmax, over the
    // same tsym/tnodes frames
    "g10_label_prop" -> gq(s"SELECT id, lab AS label FROM lpr$LpRounds",
      extra = thinCtes.drop(1) + "," + lpCtes),
    "a7_diameter" -> a7CertSql,
    "a7_diameter_cert" -> a7DiamCertSql,
    "a7_diameter_exact" -> gq(raw"""
SELECT CAST(coalesce(max(md), 0) AS BIGINT) AS diameter FROM (
  SELECT s, n, min(d) AS md FROM bfs GROUP BY s, n) t""",
      extra = thinCtes.drop(1) + raw""",
ppthin AS MATERIALIZED (SELECT src, dst FROM thin
  WHERE dst IN (SELECT src FROM thin)),
psym AS MATERIALIZED (SELECT src, dst FROM ppthin
  UNION ALL SELECT dst, src FROM ppthin),
bfs AS (SELECT src AS s, src AS n, 0 AS d FROM psym
  UNION
  SELECT bfs.s, e.dst, bfs.d + 1 FROM bfs JOIN psym e ON bfs.n = e.src
  WHERE bfs.d < 40)"""),
    "a6_component_stats" -> gq(raw"""
SELECT CAST(count(*) AS BIGINT) AS components,
       printf('%.2f%%', max(cnt)*100.0/sum(cnt)) AS max_component_pct
FROM (SELECT comp, count(*) AS cnt FROM comps GROUP BY comp) s""",
      extra = thinCtes.drop(1)),
    "a8_transitivity" -> gq(raw"""
, tedges AS (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b FROM thin)
SELECT tri.triangles, CAST(td.s AS BIGINT) AS triads,
       CASE WHEN td.s = 0 THEN 0.0
            ELSE round(3.0*tri.triangles/td.s, 2) END AS transitivity
FROM (SELECT count(*) AS triangles FROM tedges e1
      JOIN tedges e2 ON e1.b=e2.a
      JOIN tedges e3 ON e3.a=e1.a AND e3.b=e2.b) tri,
     (SELECT sum(d*(d-1)/2) AS s FROM (
        SELECT count(*) AS d FROM (SELECT a AS id FROM tedges
          UNION ALL SELECT b FROM tedges) u GROUP BY id) dd) td""",
      extra = thinCtes.drop(1)),
    "a9_suggestions" -> gq(raw"""
SELECT DISTINCT s AS suggestion FROM (
  SELECT unnest(string_split_regex(gene_names, '[;, ]+')) AS s FROM verts) t
WHERE s <> '' ORDER BY suggestion"""),
    "a10_chromosomes" -> gq(raw"""
SELECT chr FROM (SELECT DISTINCT chr FROM verts WHERE chr NOT LIKE '%MT%'
                 UNION ALL SELECT 'PP') t
ORDER BY CASE WHEN regexp_matches(chr, '^\d+$$')
              THEN '0'||lpad(chr, 9, '0') ELSE '1'||chr END"""),
    "a11_chas" -> gq(raw"""
SELECT f1.feature, round(corr(f1.value, f2.value), 6) AS chas
FROM (SELECT src, dst FROM simplified
      UNION ALL SELECT dst, src FROM simplified) e
JOIN features f1 ON e.src = f1.fragment
JOIN features f2 ON e.dst = f2.fragment AND f1.feature = f2.feature
GROUP BY f1.feature"""),
    "a12_abundance" -> gq(
      "SELECT feature, round(avg(value), 6) AS abundance FROM features GROUP BY feature"),
    "a13_mean_degree_positives" -> gq(raw"""
SELECT f.feature, round(avg(d.degree), 6) AS mean_degree
FROM features f JOIN degs d ON f.fragment = d.id
WHERE f.value <> 0 GROUP BY f.feature"""),
    "a15_feature_agg_mean" -> a15Sql("avg(i.value)"),
    "a15_feature_agg_min" -> a15Sql("min(i.value)"),
    "a15_feature_agg_max" -> a15Sql("max(i.value)"),
    "a15_feature_agg_proportion" -> a15PropSql,
    "a16_binarize" -> gq(raw"""
SELECT fragment, feature,
       CASE WHEN value > 0.0 THEN 1.0 ELSE 0.0 END AS value FROM features"""),
    "j1_join_features" -> gq(raw"""
SELECT v.*, f.feature, f.value FROM verts v
LEFT JOIN features f ON v.fragment = f.fragment"""),
    "j2_bait_names" -> gq(raw"""
, bn AS (SELECT ${chrSql("s_suppkey")}||'_'||(s_suppkey*1000)||'_'||(s_suppkey*1000+999)
           AS fragment, 'BN'||s_suppkey AS gene_id FROM supplier)
SELECT v.fragment,
       CASE WHEN v.type='P' AND b.gene_id IS NOT NULL THEN b.gene_id
            ELSE v.gene_names END AS gene_names,
       v.chr, v."start", v."end", v.type
FROM verts v LEFT JOIN bn b ON v.fragment = b.fragment"""),
    "j3_annotate_otherends" -> gq(raw"""
, aliasr AS (SELECT ${chrSql("p_partkey")} AS chr, p_partkey*1000+200 AS "start",
    p_partkey*1000+600 AS "end", 'G'||p_partkey AS gene_name FROM part),
oehits AS (SELECT o.fragment, ${collapseSql("a.gene_name")} AS oe_names
  FROM (SELECT fragment, chr, "start", "end" FROM verts WHERE type='O') o
  JOIN aliasr a ON o.chr=a.chr AND o."start"<=a."end" AND o."end">=a."start"
  GROUP BY o.fragment)
SELECT v.fragment,
       CASE WHEN v.type='O' AND h.oe_names IS NOT NULL THEN h.oe_names
            ELSE v.gene_names END AS gene_names,
       v.chr, v."start", v."end", v.type
FROM verts v LEFT JOIN oehits h ON v.fragment = h.fragment"""),
    "j4_annotate_promoters" -> gq(raw"""
, aliasn AS (SELECT upper('S'||s_suppkey) AS name,
    'ENSG'||lpad(CAST(s_suppkey AS VARCHAR), 11, '0') AS ensembl_gene_id,
    'AL'||s_suppkey AS alias FROM supplier),
prom AS (SELECT fragment, t AS name FROM (
  SELECT fragment, unnest(string_split_regex(
    regexp_replace(upper(trim(gene_names)), '-\d+\b', '', 'g'),
    '[;, ]+')) AS t
  FROM verts WHERE type='P') p WHERE t <> ''),
phits AS (SELECT p.fragment,
    ${collapseSql("a.ensembl_gene_id")} AS ensembl_ids,
    ${collapseSql("a.alias")} AS alias
  FROM prom p LEFT JOIN aliasn a ON p.name = a.name GROUP BY p.fragment)
SELECT v.fragment, v.gene_names, v.chr, v."start", v."end", v.type,
       coalesce(h.ensembl_ids, '') AS ensembl_ids,
       coalesce(h.alias, '') AS alias
FROM verts v LEFT JOIN phits h ON v.fragment = h.fragment"""),
    "j4_annotate_promoters_mus" -> gq(raw"""
, aliasn AS (SELECT upper('S'||s_suppkey) AS name,
    'ENSG'||lpad(CAST(s_suppkey AS VARCHAR), 11, '0') AS ensembl_gene_id,
    regexp_replace('MGI:'||'AL'||s_suppkey, '^MGI:', '') AS alias
  FROM supplier),
prom AS (SELECT fragment, t AS name FROM (
  SELECT fragment, unnest(string_split_regex(
    regexp_replace(upper(trim(gene_names)), '-\d+\b', '', 'g'),
    '[;, ]+')) AS t
  FROM verts WHERE type='P') p WHERE t <> ''),
phits AS (SELECT p.fragment,
    ${collapseSql("a.ensembl_gene_id")} AS ensembl_ids,
    ${collapseSql("a.alias")} AS alias
  FROM prom p LEFT JOIN aliasn a ON p.name = a.name GROUP BY p.fragment)
SELECT v.fragment,
       CASE WHEN v.type = 'P' AND length(v.gene_names) > 0
            THEN upper(substr(v.gene_names, 1, 1))
                 || lower(substr(v.gene_names, 2))
            ELSE v.gene_names END AS gene_names,
       v.chr, v."start", v."end", v.type,
       coalesce(h.ensembl_ids, '') AS ensembl_ids,
       coalesce(h.alias, '') AS alias
FROM verts v LEFT JOIN phits h ON v.fragment = h.fragment"""),
    "j6_intronic_flag" -> gq(raw"""
, intr AS (SELECT ${chrSql("nk")} AS chr, (n%5)*100000 AS "start",
    (n%5)*100000+150000 AS "end" FROM (
    SELECT CAST(n_nationkey AS BIGINT) AS n,
           CAST(n_nationkey AS BIGINT)*80+3 AS nk FROM nation) t),
flagged AS (SELECT DISTINCT o.fragment FROM
  (SELECT fragment, chr, "start", "end" FROM verts WHERE type='O') o
  JOIN intr i ON o.chr=i.chr AND o."start"<=i."end" AND o."end">=i."start")
SELECT v.fragment, v.gene_names, v.chr, v."start", v."end", v.type,
       (f.fragment IS NOT NULL AND v.type='O') AS intronic_regions
FROM verts v LEFT JOIN flagged f ON v.fragment = f.fragment"""),
    "j8_nearest_join" -> gq(raw"""
, nprobes AS (SELECT 'N'||n AS probe_id, ${chrSql("nk")} AS chr,
    nk*1000+333333 AS "start", nk*1000+333433 AS "end" FROM (
    SELECT CAST(n_nationkey AS BIGINT) AS n,
           CAST(n_nationkey AS BIGINT)*80+3 AS nk FROM nation) t),
ncand AS (SELECT p.probe_id, v.fragment,
    CAST(greatest(v."start" - p."end", p."start" - v."end", 0) AS BIGINT) AS dist,
    v."start" AS r_start, v."end" AS r_end
  FROM nprobes p JOIN verts v ON p.chr = v.chr
  WHERE greatest(v."start" - p."end", p."start" - v."end", 0) <= 10000000)
SELECT probe_id, fragment AS nearest_fragment, dist FROM (
  SELECT *, row_number() OVER (
    PARTITION BY probe_id ORDER BY dist, r_start, r_end) AS rn FROM ncand) c
WHERE rn = 1"""),
    "j10_ego_edges" -> gq(raw"""
, eseeds AS (SELECT * FROM (VALUES ('7_7000_7999'),('11_11000_11999')) t(id)),
esym AS (SELECT src, dst FROM simplified UNION ALL SELECT dst, src FROM simplified),
ehop AS (SELECT DISTINCT id FROM (
  SELECT e.dst AS id FROM esym e JOIN eseeds s ON e.src = s.id
  UNION ALL SELECT id FROM eseeds) u)
SELECT e.src, e.dst, e.score FROM simplified e
JOIN ehop h1 ON e.src = h1.id JOIN ehop h2 ON e.dst = h2.id"""),
    "j11_induced_subgraph" -> gq(raw"""
SELECT e.src, e.dst, e.score FROM simplified e
JOIN (SELECT DISTINCT fragment FROM verts WHERE chr='7') h1 ON e.src = h1.fragment
JOIN (SELECT DISTINCT fragment FROM verts WHERE chr='7') h2 ON e.dst = h2.fragment"""),
    "g5_subset_pp" -> gq(raw"""
SELECT src, dst, score FROM simplified
WHERE dst IN (SELECT src FROM simplified)"""),
    "g5_subset_po" -> gq(raw"""
SELECT src, dst, score FROM simplified
WHERE dst NOT IN (SELECT src FROM simplified)"""),
    "q1_fragment_lookup" ->
      gq("SELECT fragment AS id FROM verts WHERE fragment = '7_7000_7999'"),
    "q2_gene_search" -> gq(raw"""
SELECT fragment AS id FROM verts
WHERE regexp_matches(lower(gene_names || ' '), '\bs7\b')"""),
    // the inverted-index variants must return the SAME rows as the
    // regex scans — token equality == \b-bounded match for word terms
    "q2_gene_search_indexed" -> gq(raw"""
SELECT DISTINCT fragment AS id FROM (
  SELECT fragment, unnest(list_filter(string_split_regex(
    lower(gene_names || ' '), '\W+'), t -> t <> '')) AS token
  FROM verts) t WHERE token = 's7'"""),
    "q4_gene_list_search_indexed" -> gq(raw"""
SELECT DISTINCT fragment AS id FROM (
  SELECT fragment, unnest(list_filter(string_split_regex(
    lower(gene_names || ' '), '\W+'), t -> t <> '')) AS token
  FROM verts) t WHERE token IN ('s5', 's6', 'alt5')"""),
    "q3_ensembl_search" -> gq(raw"""
SELECT fragment AS id FROM verts
WHERE regexp_matches(lower(gene_names || ' '),
  '\b' || (SELECT lower('S'||s_suppkey) FROM supplier
           WHERE lower('ENSG'||lpad(CAST(s_suppkey AS VARCHAR),11,'0'))
                 = 'ensg00000000007' LIMIT 1) || '\b')"""),
    "q4_gene_list_search" -> gq(raw"""
SELECT fragment AS id FROM verts
WHERE regexp_matches(lower(gene_names || ' '), '\b(s5|s6|alt5)\b')"""),
    "q5_range_search" -> gq(raw"""
SELECT fragment AS id FROM verts
WHERE chr = '7' AND "start" <= 60000 AND "end" >= 30000"""),
    "q5_range_nearest" -> gq(raw"""
SELECT fragment AS id FROM (
  SELECT fragment, row_number() OVER (ORDER BY
    greatest("start" - 700100, 700000 - "end", 0), "start", "end") AS rn
  FROM verts WHERE chr = '7') t WHERE rn = 1"""),
    "f7_scrub_aliases" -> gq(raw"""
, aliasn AS (SELECT upper('S'||s_suppkey) AS name,
    'ENSG'||lpad(CAST(s_suppkey AS VARCHAR), 11, '0') AS ensembl_gene_id,
    'AL'||s_suppkey AS alias FROM supplier),
prom AS (SELECT fragment, t AS name FROM (
  SELECT fragment, unnest(string_split_regex(
    regexp_replace(upper(trim(gene_names)), '-\d+\b', '', 'g'),
    '[;, ]+')) AS t
  FROM verts WHERE type='P') p WHERE t <> ''),
phits AS (SELECT p.fragment,
    array_to_string(list_sort(list_distinct(list(coalesce(a.alias,'NA')))), ' ')
      AS alias
  FROM prom p LEFT JOIN aliasn a ON p.name = a.name GROUP BY p.fragment)
SELECT v.fragment,
  coalesce(array_to_string(list_filter(
    string_split(coalesce(h.alias, ''), ' '),
    x -> regexp_matches(x, '^[\x00-\x7F]*$$')), ' '), '') AS alias
FROM verts v LEFT JOIN phits h ON v.fragment = h.fragment"""),
    "s10_cytoscape_nodes" -> gq(raw"""
, seeds AS (SELECT fragment AS id FROM verts
    WHERE regexp_matches(lower(gene_names || ' '), '\bs7\b')),
esym AS (SELECT src, dst FROM simplified UNION ALL SELECT dst, src FROM simplified),
ehop AS (SELECT DISTINCT id FROM (
  SELECT e.dst AS id FROM esym e JOIN seeds s ON e.src = s.id
  UNION ALL SELECT id FROM seeds) u),
sedges AS (SELECT e.src, e.dst FROM simplified e
  JOIN ehop h1 ON e.src = h1.id JOIN ehop h2 ON e.dst = h2.id),
nodeids AS (SELECT DISTINCT id FROM (
  SELECT src AS id FROM sedges UNION ALL SELECT dst FROM sedges
  UNION ALL SELECT id FROM seeds) u),
sdeg AS (SELECT id, count(*) AS degree FROM (
  SELECT src AS id FROM sedges UNION ALL SELECT dst FROM sedges) u GROUP BY id)
SELECT '{"data":{"id":"'||v.fragment||'","names":"'||v.gene_names
  ||'","chr":"'||v.chr||'","start":'||v."start"||',"end":'||v."end"
  ||',"type":"'||v.type||'","searched":"'
  ||CASE WHEN s.id IS NOT NULL THEN 'true' ELSE 'false' END
  ||'","degree":'||coalesce(d.degree, 0)||'},"group":"nodes"}' AS element
FROM verts v
JOIN nodeids n ON v.fragment = n.id
LEFT JOIN (SELECT DISTINCT id FROM seeds) s ON v.fragment = s.id
LEFT JOIN sdeg d ON v.fragment = d.id"""),
    "q6_search_subnet" -> gq(raw"""
, seeds AS (SELECT fragment AS id FROM verts
    WHERE regexp_matches(lower(gene_names || ' '), '\bs7\b')),
esym AS (SELECT src, dst FROM simplified UNION ALL SELECT dst, src FROM simplified),
ehop AS (SELECT DISTINCT id FROM (
  SELECT e.dst AS id FROM esym e JOIN seeds s ON e.src = s.id
  UNION ALL SELECT id FROM seeds) u),
sedges AS (SELECT e.src, e.dst FROM simplified e
  JOIN ehop h1 ON e.src = h1.id JOIN ehop h2 ON e.dst = h2.id),
nodeids AS (SELECT DISTINCT id FROM (
  SELECT src AS id FROM sedges UNION ALL SELECT dst FROM sedges
  UNION ALL SELECT id FROM seeds) u),
sdeg AS (SELECT id, count(*) AS degree FROM (
  SELECT src AS id FROM sedges UNION ALL SELECT dst FROM sedges) u GROUP BY id)
SELECT v.fragment, v.gene_names, v.chr, v."start", v."end", v.type,
       (s.id IS NOT NULL) AS searched,
       coalesce(d.degree, 0) AS degree
FROM verts v
JOIN nodeids n ON v.fragment = n.id
LEFT JOIN (SELECT DISTINCT id FROM seeds) s ON v.fragment = s.id
LEFT JOIN sdeg d ON v.fragment = d.id"""))

  /** S12: the response memo-cache batch semantics over the REAL
    * serving payload — memo hits keep the STORED response (so a
    * recompute would hash-mismatch), distinct miss keys each get the
    * full served search → rendered Cytoscape document (the
    * q6_search_subnet derivation keyed per request key, assembled into
    * the byte-exact document string; "{}" for keys matching ≤1 node,
    * the empty-result guard). */
  private val s12Sql: String = gq(raw"""
, reqs AS (SELECT o_orderkey AS request_id,
    'S'||(o_orderkey%150) AS key FROM orders),
memo AS (SELECT DISTINCT key, 'memo:'||key AS response
  FROM reqs WHERE request_id%3=0),
tok AS (SELECT DISTINCT fragment, token FROM (
  SELECT fragment, unnest(list_filter(string_split_regex(
    lower(gene_names || ' '), '\W+'), t -> t <> '')) AS token
  FROM verts) u),
misskeys AS (SELECT DISTINCT key FROM reqs
  WHERE key NOT IN (SELECT key FROM memo)),
seeds AS (SELECT k.key, t.fragment AS id
  FROM misskeys k JOIN tok t ON t.token = lower(k.key)),
esym AS (SELECT src, dst FROM simplified
  UNION ALL SELECT dst, src FROM simplified),
ehop AS (SELECT DISTINCT key, id FROM (
  SELECT s.key, e.dst AS id FROM esym e JOIN seeds s ON e.src = s.id
  UNION ALL SELECT key, id FROM seeds) u),
sedges AS MATERIALIZED (SELECT h1.key, e.src, e.dst FROM simplified e
  JOIN ehop h1 ON e.src = h1.id
  JOIN ehop h2 ON e.dst = h2.id AND h2.key = h1.key),
nodeids AS (SELECT DISTINCT key, id FROM (
  SELECT key, src AS id FROM sedges UNION ALL SELECT key, dst FROM sedges
  UNION ALL SELECT key, id FROM seeds) u),
sdeg AS (SELECT key, id, count(*) AS degree FROM (
  SELECT key, src AS id FROM sedges
  UNION ALL SELECT key, dst FROM sedges) u GROUP BY key, id),
nels AS (SELECT n.key, 0 AS g, v.fragment AS k1, '' AS k2,
    '{"data":{"id":"'||v.fragment||'","names":"'||v.gene_names
    ||'","chr":"'||v.chr||'","start":'||v."start"||',"end":'||v."end"
    ||',"type":"'||v.type||'","searched":"'
    ||CASE WHEN s.id IS NOT NULL THEN 'true' ELSE 'false' END
    ||'","degree":'||coalesce(d.degree, 0)||'},"group":"nodes"}' AS element
  FROM nodeids n JOIN verts v ON v.fragment = n.id
  LEFT JOIN (SELECT DISTINCT key, id FROM seeds) s
    ON s.key = n.key AND s.id = n.id
  LEFT JOIN sdeg d ON d.key = n.key AND d.id = n.id),
eels AS (SELECT key, 1 AS g, src AS k1, dst AS k2,
    '{"data":{"source":"'||src||'","target":"'||dst||'","id":"'
    ||src||'~'||dst||'"},"group":"edges"}' AS element
  FROM sedges),
docs AS (SELECT key,
    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS nn,
    string_agg(element, ',' ORDER BY g, k1, k2) AS body
  FROM (SELECT * FROM nels UNION ALL SELECT * FROM eels) a GROUP BY key),
fresh AS (SELECT m.key,
    CASE WHEN coalesce(d.nn, 0) <= 1 THEN '{}'
         ELSE '['||d.body||']' END AS response
  FROM misskeys m LEFT JOIN docs d ON d.key = m.key)
SELECT r.request_id, r.key,
       coalesce(mm.response, f.response) AS response,
       (mm.key IS NOT NULL) AS cached
FROM reqs r LEFT JOIN memo mm ON mm.key = r.key
LEFT JOIN fresh f ON f.key = r.key""")

  /** e11 — the streaming memo-cache loop: no pre-seeded memo, TWO
    * deterministic micro-batches (request_id parity: evens drain
    * first). Every key's response is the same rendered document in
    * either batch (the compute is deterministic), so only `cached`
    * depends on the split: an odd-batch request whose key appeared in
    * the even batch is a memo hit. Same doc-render chain as [[s12Sql]]
    * over ALL distinct keys. */
  private val e11Sql: String = gq(raw"""
, reqs AS (SELECT CAST(o_orderkey AS BIGINT) AS request_id,
    'S'||(o_orderkey%150) AS key FROM orders),
b1keys AS (SELECT DISTINCT key FROM reqs WHERE request_id%2=0),
allkeys AS (SELECT DISTINCT key FROM reqs),
tok AS (SELECT DISTINCT fragment, token FROM (
  SELECT fragment, unnest(list_filter(string_split_regex(
    lower(gene_names || ' '), '\W+'), t -> t <> '')) AS token
  FROM verts) u),
seeds AS (SELECT k.key, t.fragment AS id
  FROM allkeys k JOIN tok t ON t.token = lower(k.key)),
esym AS (SELECT src, dst FROM simplified
  UNION ALL SELECT dst, src FROM simplified),
ehop AS (SELECT DISTINCT key, id FROM (
  SELECT s.key, e.dst AS id FROM esym e JOIN seeds s ON e.src = s.id
  UNION ALL SELECT key, id FROM seeds) u),
sedges AS MATERIALIZED (SELECT h1.key, e.src, e.dst FROM simplified e
  JOIN ehop h1 ON e.src = h1.id
  JOIN ehop h2 ON e.dst = h2.id AND h2.key = h1.key),
nodeids AS (SELECT DISTINCT key, id FROM (
  SELECT key, src AS id FROM sedges UNION ALL SELECT key, dst FROM sedges
  UNION ALL SELECT key, id FROM seeds) u),
sdeg AS (SELECT key, id, count(*) AS degree FROM (
  SELECT key, src AS id FROM sedges
  UNION ALL SELECT key, dst FROM sedges) u GROUP BY key, id),
nels AS (SELECT n.key, 0 AS g, v.fragment AS k1, '' AS k2,
    '{"data":{"id":"'||v.fragment||'","names":"'||v.gene_names
    ||'","chr":"'||v.chr||'","start":'||v."start"||',"end":'||v."end"
    ||',"type":"'||v.type||'","searched":"'
    ||CASE WHEN s.id IS NOT NULL THEN 'true' ELSE 'false' END
    ||'","degree":'||coalesce(d.degree, 0)||'},"group":"nodes"}' AS element
  FROM nodeids n JOIN verts v ON v.fragment = n.id
  LEFT JOIN (SELECT DISTINCT key, id FROM seeds) s
    ON s.key = n.key AND s.id = n.id
  LEFT JOIN sdeg d ON d.key = n.key AND d.id = n.id),
eels AS (SELECT key, 1 AS g, src AS k1, dst AS k2,
    '{"data":{"source":"'||src||'","target":"'||dst||'","id":"'
    ||src||'~'||dst||'"},"group":"edges"}' AS element
  FROM sedges),
docs AS (SELECT key,
    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS nn,
    string_agg(element, ',' ORDER BY g, k1, k2) AS body
  FROM (SELECT * FROM nels UNION ALL SELECT * FROM eels) a GROUP BY key),
resp AS (SELECT k.key,
    CASE WHEN coalesce(d.nn, 0) <= 1 THEN '{}'
         ELSE '['||d.body||']' END AS response
  FROM allkeys k LEFT JOIN docs d ON d.key = k.key)
SELECT r.request_id, r.key, p.response,
       (r.request_id%2=1 AND r.key IN (SELECT key FROM b1keys)) AS cached
FROM reqs r JOIN resp p ON p.key = r.key""")

  // -------------------------------------------------- G8 layout oracles
  /** The served subnet (same derivation as q6_search_subnet) plus its
    * connected components by recursive closure — tractable because the
    * layout contract is the reference's: layouts run on SERVED
    * documents (a few hundred nodes), never the whole chromnet. */
  private val layoutCtes: String = raw"""
, seeds AS (SELECT fragment AS id FROM verts
    WHERE regexp_matches(lower(gene_names || ' '), '\bs7\b')),
esym AS (SELECT src, dst FROM simplified UNION ALL SELECT dst, src FROM simplified),
ehop AS (SELECT DISTINCT id FROM (
  SELECT e.dst AS id FROM esym e JOIN seeds s ON e.src = s.id
  UNION ALL SELECT id FROM seeds) u),
sedges AS MATERIALIZED (SELECT e.src, e.dst FROM simplified e
  JOIN ehop h1 ON e.src = h1.id JOIN ehop h2 ON e.dst = h2.id),
nodeids AS MATERIALIZED (SELECT DISTINCT id FROM (
  SELECT src AS id FROM sedges UNION ALL SELECT dst FROM sedges
  UNION ALL SELECT id FROM seeds) u),
sdeg AS (SELECT id, count(*) AS degree FROM (
  SELECT src AS id FROM sedges UNION ALL SELECT dst FROM sedges) u GROUP BY id),
ssym AS MATERIALIZED (SELECT src, dst FROM sedges UNION ALL SELECT dst, src FROM sedges),
creach AS (SELECT id AS s, id AS n FROM nodeids
  UNION SELECT r.s, e.dst FROM creach r JOIN ssym e ON e.src = r.n),
lcomp AS MATERIALIZED (SELECT s AS id, min(n) AS component
  FROM creach GROUP BY s)"""

  /** Component packing tail shared by every layout: mirrors
    * Layout.pack micro-for-micro (uniform cells of max extent +
    * spacing, components ordered by size desc then label; every offset
    * integer micro, 100·1e6 = the 100-unit componentSpacing of
    * layout_enricher:72). */
  private def g8PackSql(rel: String): String = raw"""
ext AS (SELECT component, min(x_micro) AS minx, max(x_micro) AS maxx,
  min(y_micro) AS miny, max(y_micro) AS maxy, count(*) AS cnt
  FROM $rel GROUP BY component),
gstats AS (SELECT max(maxx - minx) AS maxw, max(maxy - miny) AS maxh,
  count(*) AS ncomp FROM ext),
cells AS (SELECT component, minx, miny,
  row_number() OVER (ORDER BY cnt DESC, component) - 1 AS idx FROM ext),
offs AS (SELECT c.component,
  (c.idx % g.ncols) * g.cellw - c.minx AS offx,
  CAST(floor(CAST(c.idx AS DOUBLE) / g.ncols) AS BIGINT) * g.cellh - c.miny AS offy
  FROM cells c CROSS JOIN (SELECT
     CAST(ceil(sqrt(CAST(ncomp AS DOUBLE))) AS BIGINT) AS ncols,
     maxw + 100000000 AS cellw, maxh + 100000000 AS cellh FROM gstats) g)
SELECT r.id, r.component,
  CAST(r.x_micro + o.offx AS DOUBLE)/1000000.0 AS x,
  CAST(r.y_micro + o.offy AS DOUBLE)/1000000.0 AS y
FROM $rel r JOIN offs o ON o.component = r.component"""

  /** One CoSE/FR iteration as CTE stages: centroid (c), integer-micro
    * repulsion sums (r), attraction sums (t), temperature-capped move
    * (p) — every double expression copied shape-for-shape from
    * Layout.coseLocal so each op is the identical correctly-rounded
    * IEEE step, and every cross-row sum is a BIGINT of pre-quantized
    * micro terms (order-free), which is what makes an ITERATED float
    * algorithm hash-exact across engines. */
  private def g8CoseStage(k: Int, temp: Double): String = {
    val p = s"p${k - 1}"
    val t = temp.toString
    raw"""
c$k AS MATERIALIZED (SELECT component, (CAST(sum(xm) AS DOUBLE)/count(*))/1000000.0 AS cx,
  (CAST(sum(ym) AS DOUBLE)/count(*))/1000000.0 AS cy FROM $p GROUP BY component),
r$k AS MATERIALIZED (SELECT component, id,
  CAST(sum(CAST(floor(dx*10000.0/greatest(dx*dx+dy*dy,0.01)*1000000.0+0.5) AS BIGINT)) AS BIGINT) AS rx,
  CAST(sum(CAST(floor(dy*10000.0/greatest(dx*dx+dy*dy,0.01)*1000000.0+0.5) AS BIGINT)) AS BIGINT) AS ry
 FROM (SELECT a.component, a.id,
    CAST(a.xm AS DOUBLE)/1000000.0 - CAST(b.xm AS DOUBLE)/1000000.0 AS dx,
    CAST(a.ym AS DOUBLE)/1000000.0 - CAST(b.ym AS DOUBLE)/1000000.0 AS dy
  FROM $p a JOIN $p b ON b.component = a.component AND b.id <> a.id) q0
 GROUP BY component, id),
t$k AS MATERIALIZED (SELECT id,
  CAST(sum(CASE WHEN d2 = 0 THEN 0 ELSE CAST(floor(-(dx*sqrt(d2)/100.0)*1000000.0+0.5) AS BIGINT) END) AS BIGINT) AS tx,
  CAST(sum(CASE WHEN d2 = 0 THEN 0 ELSE CAST(floor(-(dy*sqrt(d2)/100.0)*1000000.0+0.5) AS BIGINT) END) AS BIGINT) AS ty
 FROM (SELECT id, dx, dy, dx*dx + dy*dy AS d2
   FROM (SELECT e.src AS id,
      CAST(pa.xm AS DOUBLE)/1000000.0 - CAST(pb.xm AS DOUBLE)/1000000.0 AS dx,
      CAST(pa.ym AS DOUBLE)/1000000.0 - CAST(pb.ym AS DOUBLE)/1000000.0 AS dy
    FROM ssym e JOIN $p pa ON pa.id = e.src JOIN $p pb ON pb.id = e.dst) q0) q1
 GROUP BY id),
p$k AS MATERIALIZED (SELECT component, id,
  CAST(floor((x + fdx*scale)*1000000.0+0.5) AS BIGINT) AS xm,
  CAST(floor((y + fdy*scale)*1000000.0+0.5) AS BIGINT) AS ym
 FROM (SELECT component, id, x, y, fdx, fdy,
    CASE WHEN len > $t THEN $t/len ELSE 1.0 END AS scale
  FROM (SELECT component, id, x, y,
     CAST(fxm AS DOUBLE)/1000000.0 AS fdx, CAST(fym AS DOUBLE)/1000000.0 AS fdy,
     sqrt((CAST(fxm AS DOUBLE)/1000000.0)*(CAST(fxm AS DOUBLE)/1000000.0) +
          (CAST(fym AS DOUBLE)/1000000.0)*(CAST(fym AS DOUBLE)/1000000.0)) AS len
   FROM (SELECT p.component, p.id,
      CAST(p.xm AS DOUBLE)/1000000.0 AS x, CAST(p.ym AS DOUBLE)/1000000.0 AS y,
      coalesce(r.rx, 0) + coalesce(t.tx, 0) +
        CAST(floor(-((CAST(p.xm AS DOUBLE)/1000000.0 - c.cx)*0.25)*1000000.0+0.5) AS BIGINT) AS fxm,
      coalesce(r.ry, 0) + coalesce(t.ty, 0) +
        CAST(floor(-((CAST(p.ym AS DOUBLE)/1000000.0 - c.cy)*0.25)*1000000.0+0.5) AS BIGINT) AS fym
    FROM $p p LEFT JOIN r$k r ON r.component = p.component AND r.id = p.id
      LEFT JOIN t$k t ON t.id = p.id
      JOIN c$k c ON c.component = p.component) f0) f1) f2)"""
  }

  private val g8CoseInit = raw"""
p0 AS MATERIALIZED (SELECT l.component, l.id,
  CAST(('0x'||substr(md5(l.id),1,12)) AS BIGINT) % n.span AS xm,
  CAST(('0x'||substr(md5(l.id),13,12)) AS BIGINT) % n.span AS ym
 FROM lcomp l JOIN (SELECT component,
    CAST(floor(ceil(sqrt(CAST(count(*) AS DOUBLE)))*100.0*1000000.0+0.5) AS BIGINT) AS span
  FROM lcomp GROUP BY component) n ON n.component = l.component)"""

  private val g8CoseSql: String = {
    val params = graft.core.Layout.CoseParams()
    val stages = graft.core.Layout.temps(params).zipWithIndex
      .map { case (t, i) => g8CoseStage(i + 1, t) }.mkString(",")
    val rel = s""",
lrel AS (SELECT component, id, xm AS x_micro, ym AS y_micro
  FROM p${params.iters}),"""
    gq(layoutCtes + "," + g8CoseInit + "," + stages + rel + g8PackSql("lrel"))
  }

  // -------------------------------------------- G8 Barnes-Hut far field
  /** Negative-safe floor division (exact-multiple numerator → integer
    * division is exact): mirrors Layout.fdivSql with DuckDB's `//`. */
  private def bhFdiv(a: String, s: String): String =
    s"(($a - ((($a % $s) + $s) % $s)) // $s)"

  /** One grid-binned far-field iteration: per-level cell monopoles
    * (count + integer-floor centroid), near field exact over the
    * level-0 3×3 neighborhood, far field as parent-adjacent /
    * self-non-adjacent monopole terms per level plus the top-level
    * catch-all — every force term micro-quantized exactly like
    * Layout.coseBarnesHut, so the iterated result is hash-exact. */
  private def g8CoseBhStage(k: Int, temp: Double, levels: Int): String = {
    val p = s"p${k - 1}"
    val t = temp.toString
    def s(l: Int): String = (100000000L << l).toString
    val cellCtes = (0 to levels).map { l =>
      raw"""
bl${l}_$k AS MATERIALIZED (SELECT component, cx, cy, n,
  ${bhFdiv("sx", "n")} AS cmx, ${bhFdiv("sy", "n")} AS cmy
 FROM (SELECT component, ${bhFdiv("xm", s(l))} AS cx,
    ${bhFdiv("ym", s(l))} AS cy, count(*) AS n,
    CAST(sum(xm) AS BIGINT) AS sx, CAST(sum(ym) AS BIGINT) AS sy
  FROM $p GROUP BY 1, 2, 3) g)"""
    }.mkString(",")
    val nearSql = raw"""
  SELECT component, id,
    CAST(floor(dx*10000.0/greatest(dx*dx+dy*dy,0.01)*1000000.0+0.5) AS BIGINT) AS tx,
    CAST(floor(dy*10000.0/greatest(dx*dx+dy*dy,0.01)*1000000.0+0.5) AS BIGINT) AS ty
  FROM (SELECT u.component AS component, u.id AS id,
      CAST(u.xm AS DOUBLE)/1000000.0 - CAST(v.xm AS DOUBLE)/1000000.0 AS dx,
      CAST(u.ym AS DOUBLE)/1000000.0 - CAST(v.ym AS DOUBLE)/1000000.0 AS dy
    FROM $p u JOIN $p v ON v.component = u.component AND v.id <> u.id
      AND abs(${bhFdiv("v.xm", s(0))} - ${bhFdiv("u.xm", s(0))}) <= 1
      AND abs(${bhFdiv("v.ym", s(0))} - ${bhFdiv("u.ym", s(0))}) <= 1) qn"""
    def monoSql(src: String, cond: String): String = raw"""
  SELECT component, id,
    CAST(floor(dx*10000.0/greatest(dx*dx+dy*dy,0.01)*CAST(n AS DOUBLE)*1000000.0+0.5) AS BIGINT) AS tx,
    CAST(floor(dy*10000.0/greatest(dx*dx+dy*dy,0.01)*CAST(n AS DOUBLE)*1000000.0+0.5) AS BIGINT) AS ty
  FROM (SELECT u.component AS component, u.id AS id, c.n AS n,
      CAST(u.xm AS DOUBLE)/1000000.0 - CAST(c.cmx AS DOUBLE)/1000000.0 AS dx,
      CAST(u.ym AS DOUBLE)/1000000.0 - CAST(c.cmy AS DOUBLE)/1000000.0 AS dy
    FROM $p u JOIN $src c ON c.component = u.component
      AND ($cond)) qm"""
    val farSqls = (0 until levels).map { l =>
      monoSql(s"bl${l}_$k", raw"""
        abs(${bhFdiv("c.cx", "2")} - ${bhFdiv("u.xm", s(l + 1))}) <= 1
        AND abs(${bhFdiv("c.cy", "2")} - ${bhFdiv("u.ym", s(l + 1))}) <= 1
        AND (abs(c.cx - ${bhFdiv("u.xm", s(l))}) > 1
             OR abs(c.cy - ${bhFdiv("u.ym", s(l))}) > 1)""")
    }
    val topSql = monoSql(s"bl${levels}_$k", raw"""
        abs(c.cx - ${bhFdiv("u.xm", s(levels))}) > 1
        OR abs(c.cy - ${bhFdiv("u.ym", s(levels))}) > 1""")
    val repSql = raw"""
r$k AS MATERIALIZED (SELECT component, id,
  CAST(sum(tx) AS BIGINT) AS rx, CAST(sum(ty) AS BIGINT) AS ry
 FROM (${(nearSql +: farSqls :+ topSql).mkString("\n  UNION ALL\n")}) allt
 GROUP BY component, id)"""
    val tailSql = raw"""
c$k AS MATERIALIZED (SELECT component, (CAST(sum(xm) AS DOUBLE)/count(*))/1000000.0 AS cx,
  (CAST(sum(ym) AS DOUBLE)/count(*))/1000000.0 AS cy FROM $p GROUP BY component),
t$k AS MATERIALIZED (SELECT id,
  CAST(sum(CASE WHEN d2 = 0 THEN 0 ELSE CAST(floor(-(dx*sqrt(d2)/100.0)*1000000.0+0.5) AS BIGINT) END) AS BIGINT) AS tx,
  CAST(sum(CASE WHEN d2 = 0 THEN 0 ELSE CAST(floor(-(dy*sqrt(d2)/100.0)*1000000.0+0.5) AS BIGINT) END) AS BIGINT) AS ty
 FROM (SELECT id, dx, dy, dx*dx + dy*dy AS d2
   FROM (SELECT e.src AS id,
      CAST(pa.xm AS DOUBLE)/1000000.0 - CAST(pb.xm AS DOUBLE)/1000000.0 AS dx,
      CAST(pa.ym AS DOUBLE)/1000000.0 - CAST(pb.ym AS DOUBLE)/1000000.0 AS dy
    FROM ssym e JOIN $p pa ON pa.id = e.src JOIN $p pb ON pb.id = e.dst) q0) q1
 GROUP BY id),
p$k AS MATERIALIZED (SELECT component, id,
  CAST(floor((x + fdx*scale)*1000000.0+0.5) AS BIGINT) AS xm,
  CAST(floor((y + fdy*scale)*1000000.0+0.5) AS BIGINT) AS ym
 FROM (SELECT component, id, x, y, fdx, fdy,
    CASE WHEN len > $t THEN $t/len ELSE 1.0 END AS scale
  FROM (SELECT component, id, x, y,
     CAST(fxm AS DOUBLE)/1000000.0 AS fdx, CAST(fym AS DOUBLE)/1000000.0 AS fdy,
     sqrt((CAST(fxm AS DOUBLE)/1000000.0)*(CAST(fxm AS DOUBLE)/1000000.0) +
          (CAST(fym AS DOUBLE)/1000000.0)*(CAST(fym AS DOUBLE)/1000000.0)) AS len
   FROM (SELECT p.component, p.id,
      CAST(p.xm AS DOUBLE)/1000000.0 AS x, CAST(p.ym AS DOUBLE)/1000000.0 AS y,
      coalesce(r.rx, 0) + coalesce(t.tx, 0) +
        CAST(floor(-((CAST(p.xm AS DOUBLE)/1000000.0 - c.cx)*0.25)*1000000.0+0.5) AS BIGINT) AS fxm,
      coalesce(r.ry, 0) + coalesce(t.ty, 0) +
        CAST(floor(-((CAST(p.ym AS DOUBLE)/1000000.0 - c.cy)*0.25)*1000000.0+0.5) AS BIGINT) AS fym
    FROM $p p LEFT JOIN r$k r ON r.component = p.component AND r.id = p.id
      LEFT JOIN t$k t ON t.id = p.id
      JOIN c$k c ON c.component = p.component) f0) f1) f2)"""
    cellCtes + "," + repSql + "," + tailSql
  }

  private val g8CoseBhSql: String = {
    val params = graft.core.Layout.CoseParams(iters = 12)
    val stages = graft.core.Layout.temps(params).zipWithIndex
      .map { case (t, i) => g8CoseBhStage(i + 1, t, levels = 3) }
      .mkString(",")
    val rel = s""",
lrel AS (SELECT component, id, xm AS x_micro, ym AS y_micro
  FROM p${params.iters}),"""
    gq(layoutCtes + "," + g8CoseInit + "," + stages + rel + g8PackSql("lrel"))
  }

  private val g8GridSql: String = gq(layoutCtes + raw""",
grel AS (SELECT component, id,
  (rn % cc) * 100000000 AS x_micro,
  CAST(floor(CAST(rn AS DOUBLE)/cc) AS BIGINT) * 100000000 AS y_micro
 FROM (SELECT component, id,
    row_number() OVER (PARTITION BY component ORDER BY id) - 1 AS rn,
    CAST(ceil(sqrt(CAST(count(*) OVER (PARTITION BY component) AS DOUBLE))) AS BIGINT) AS cc
  FROM lcomp) q0),
""" + g8PackSql("grel"))

  private val g8CircleSql: String = gq(layoutCtes + raw""",
crel AS (SELECT component, id,
  CASE WHEN cnti = 1 THEN 0
    ELSE CAST(floor(greatest(100.0, cnt*100.0/(2*pi())) * cos(2*pi()*rn/cnt) * 1000000.0 + 0.5) AS BIGINT) END AS x_micro,
  CASE WHEN cnti = 1 THEN 0
    ELSE CAST(floor(greatest(100.0, cnt*100.0/(2*pi())) * sin(2*pi()*rn/cnt) * 1000000.0 + 0.5) AS BIGINT) END AS y_micro
 FROM (SELECT component, id,
    CAST(row_number() OVER (PARTITION BY component ORDER BY id) - 1 AS DOUBLE) AS rn,
    CAST(count(*) OVER (PARTITION BY component) AS DOUBLE) AS cnt,
    count(*) OVER (PARTITION BY component) AS cnti
  FROM lcomp) q0),
""" + g8PackSql("crel"))

  private val g8ConcentricSql: String = gq(layoutCtes + raw""",
korel AS (SELECT component, id,
  CAST(floor(rr * cos(2*pi()*jj/mm) * 1000000.0 + 0.5) AS BIGINT) AS x_micro,
  CAST(floor(rr * sin(2*pi()*jj/mm) * 1000000.0 + 0.5) AS BIGINT) AS y_micro
 FROM (SELECT component, id, jj, mm,
    CASE WHEN ring = 0 AND mi = 1 THEN 0.0
      ELSE CAST(ring + 1 AS DOUBLE) * 100.0 END AS rr
  FROM (SELECT component, id, ring,
     CAST(row_number() OVER (PARTITION BY component, ring ORDER BY id) - 1 AS DOUBLE) AS jj,
     CAST(count(*) OVER (PARTITION BY component, ring) AS DOUBLE) AS mm,
     count(*) OVER (PARTITION BY component, ring) AS mi
   FROM (SELECT l.component, l.id,
      dense_rank() OVER (PARTITION BY l.component
        ORDER BY coalesce(d.degree, 0) DESC) - 1 AS ring
     FROM lcomp l LEFT JOIN sdeg d ON d.id = l.id) q0) q1) q2),
""" + g8PackSql("korel"))

  /** G8 layout oracles: grid/circle/concentric closed forms plus the
    * macro-expanded CoSE iteration; the _dist entry pins the
    * distributed iteration twin to the SAME oracle (regime
    * bit-identity, like a6/g6). */
  val layouts: Map[String, String] = Map(
    "s12_response_cache" -> s12Sql,
    "e11_stream_response_cache" -> e11Sql,
    "g8_layout_grid" -> g8GridSql,
    "g8_layout_circle" -> g8CircleSql,
    "g8_layout_concentric" -> g8ConcentricSql,
    "g8_layout_cose" -> g8CoseSql,
    "g8_layout_cose_dist" -> g8CoseSql,
    "g8_layout_cose_bh" -> g8CoseBhSql,
    // one-task regime twin — bit-identical binned arithmetic, SAME
    // oracle (regime identity proven through the driver gate)
    "g8_layout_cose_bh_local" -> g8CoseBhSql)

  // -------------------------------------------------- documents oracles
  private val docCtes: String = raw"""
toks AS (SELECT doc_id, text,
  list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS toks
  FROM documents),
rtoks AS (SELECT doc_id, text,
  list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks
  FROM documents),
sh AS (SELECT doc_id,
  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       ELSE list_transform(generate_series(0, len(toks)-3),
              i -> array_to_string(toks[i+1:i+3], ' ')) END AS sh
  FROM toks),
dsh AS (SELECT doc_id, list_distinct(sh) AS sh FROM sh)"""

  private def dq(body: String, extra: String = ""): String =
    s"WITH $docCtes${if (extra.nonEmpty) "," + extra else ""}\n$body"

  /** t16 BPE-training replay: round r splits the wrapped symbol
    * string, counts adjacent pairs weighted by word frequency, picks
    * the (cnt DESC, a, b) top-1, and applies it with the identical
    * replace the engine ran (TextOps.bpeCore). `sum(wcount)` is cast
    * to BIGINT (DuckDB sum(BIGINT) is HUGEINT). */
  private val T16Rounds = 12
  /** The training chain parameterized by the (doc_id, toks) source
    * CTE and a name prefix, so the corpus lanes (src=toks, p=b) and
    * the curate composition (src=ctoks, p=cb) share one
    * construction — the e15/v2 band-chain precedent. */
  private def bpeCtesFrom(src: String, p: String,
                          rounds: Int = T16Rounds): String = {
    val w1 = raw"""
${p}w1 AS MATERIALIZED (SELECT word, wcount,
    '|' || array_to_string(list_transform(generate_series(1, length(word)),
      i -> word[i:i]) || ['</w>'], '||') || '|' AS wstr
  FROM (SELECT word, CAST(count(*) AS BIGINT) AS wcount
        FROM (SELECT unnest(toks) AS word FROM $src) uw
        WHERE word NOT LIKE '%|%' GROUP BY word) w0)""".drop(1)
    // ${p}w$r and ${p}b$r are MULTI-CONSUMER (w feeds the split AND the
    // next round; b feeds the next round AND the final union) —
    // without MATERIALIZED, DuckDB's default CTE inlining re-evaluates
    // the whole prefix chain per consumer: 2^rounds blowup (the a17
    // lesson)
    val rs = (1 to rounds).map { r => raw"""
${p}s$r AS (SELECT wcount,
    string_split(wstr[2:length(wstr)-1], '||') AS syms FROM ${p}w$r),
${p}p$r AS (SELECT pp.a AS a, pp.b AS b, CAST(sum(wcount) AS BIGINT) AS cnt
  FROM (SELECT wcount, unnest(list_transform(
      generate_series(1, len(syms) - 1),
      i -> struct_pack(a := syms[i], b := syms[i+1]))) AS pp FROM ${p}s$r) ue
  GROUP BY 1, 2),
${p}b$r AS MATERIALIZED (SELECT a, b, cnt FROM ${p}p$r
  ORDER BY cnt DESC, a, b LIMIT 1),
${p}w${r + 1} AS MATERIALIZED (SELECT word, wcount,
    replace(wstr, '|' || b.a || '||' || b.b || '|',
      '|' || b.a || b.b || '|') AS wstr
  FROM ${p}w$r, ${p}b$r b)""".drop(1)
    }
    (w1 +: rs).mkString(",\n")
  }
  private val bpeCtes: String = bpeCtesFrom("toks", "b")

  /** Merge-table SELECT over a [[bpeCtesFrom]] chain. One SELECT per
    * round unioned — CHUNKED through intermediate MATERIALIZED CTEs
    * (≤64-way inner unions, one outer union over the chunks) because
    * a left-deep many-way UNION ALL exceeds DuckDB's
    * max_expression_depth of 1000, which the driver's compare session
    * does not raise. */
  private def bpeMergeSelect(p: String, rounds: Int,
                             chunk: Int = 64): (String, String) = {
    val chunks = (0 until rounds by chunk).map { c =>
      val sel = (c + 1 to math.min(c + chunk, rounds))
        .map(r => s"SELECT $r AS r, a AS lhs, b AS rhs, cnt FROM ${p}b$r")
        .mkString("\n  UNION ALL ")
      s"${p}mu${c / chunk} AS MATERIALIZED ($sel)"
    }
    val outer = chunks.indices
      .map(i => s"SELECT * FROM ${p}mu$i").mkString("\n UNION ALL ")
    (chunks.mkString(",\n"), raw"""
SELECT CAST(r AS BIGINT) AS merge_round, lhs, rhs,
       lhs || rhs AS merged, cnt AS pair_count
FROM ($outer) mu""")
  }

  /** How far the macro-expanded replay can go: 448 merges. The chain's
    * round CTEs sit ~2 binder-recursion levels apart, and DuckDB's
    * max_expression_depth is a hard 1000 that the driver's session
    * never raises — measured: 448 rounds bind and run, 496 throw
    * BinderException (a recursive list-state CTE avoids the depth but
    * runs >40× slower — measured, rejected). 448 is 37× the 12-round
    * gate lane and already deep into one-job-per-merge-is-not-a-plan
    * territory for the relational regime; the 32k-merge evidence
    * beyond the oracle's reach is BpeScaleProbe's (COVERAGE.md). */
  private val Bpe448Rounds = 448

  /** The [[Bpe448Rounds]]-merge BPE replay over the trigram-derived
    * corpus (TextOps.trigramDocs mirrored from the SAME pinned `toks`
    * token stream): the t16_bpe_train_448 oracle — a full independent
    * DuckDB replay of every merge, not a fixture pin.
    *
    * Form (r13 verdict #4 — oracle headroom): a DELTA-maintained
    * RECURSIVE iteration instead of the [[bpeCtesFrom]] macro
    * expansion. The recount chain re-split the whole vocab every
    * round and paid DuckDB a per-materialized-CTE overhead 448 times
    * — 694 s of the 900 s sf1 budget (and the binder depth capped the
    * round count at 448 in the first place). Here the state is ONE
    * recursive working table carrying word rows (tag 0: wid, wcount,
    * wstr) and pair-count rows (tag 1: a, b, cnt); each iteration
    * takes the top pair (cnt DESC, a, b — the engine's tiebreak),
    * applies the identical `replace` merge, and updates the pair
    * counts by the CHANGED words' deltas only — old adjacent pairs
    * subtracted, new ones added in one concat-unnest pass (BpeLocal's
    * batched-delta trick as SQL; exact multiset counts never go
    * negative, so `HAVING sum > 0` leaves the table row-identical to
    * a full recount). Merge rows (tag 2) accumulate in the recursive
    * result and are the output. r12 rejected a recursive LIST-STATE
    * replay as >40× slower — that held for the recount arithmetic;
    * with deltas the recursive form is the fastest by far (validated
    * row-for-row against the recount chain at sf0.01/448: 101.8 s →
    * 6.7 s; sf1 694 s → 54 s, 16× under the gate budget) and is no
    * longer binder-depth-bounded. */
  private val bpe448Sql: String = {
    val r = Bpe448Rounds
    raw"""WITH RECURSIVE $docCtes,
tritoks AS (SELECT doc_id, list_transform(generate_series(1, len(toks)-2),
    i -> toks[i]||toks[i+1]||toks[i+2]) AS toks FROM toks),
kw0 AS (SELECT row_number() OVER (ORDER BY word) AS wid, wcount,
    '|' || array_to_string(list_transform(generate_series(1, length(word)),
      i -> word[i:i]) || ['</w>'], '||') || '|' AS wstr
  FROM (SELECT word, CAST(count(*) AS BIGINT) AS wcount
        FROM (SELECT unnest(toks) AS word FROM tritoks) uw
        WHERE word NOT LIKE '%|%' GROUP BY word) w0),
kc0 AS (SELECT pp.a AS a, pp.b AS b, CAST(sum(wcount) AS BIGINT) AS cnt
  FROM (SELECT wcount, unnest(list_transform(
      generate_series(1, len(syms) - 1),
      i -> struct_pack(a := syms[i], b := syms[i+1]))) AS pp
    FROM (SELECT wcount, string_split(wstr[2:length(wstr)-1], '||') AS syms
      FROM kw0) s) ue GROUP BY 1, 2),
st AS (
  SELECT 1 AS it, 0 AS tag, wid, wcount, wstr,
         NULL::VARCHAR AS a, NULL::VARCHAR AS b, NULL::BIGINT AS cnt
  FROM kw0
  UNION ALL
  SELECT 1, 1, NULL, NULL, NULL, a, b, cnt FROM kc0
  UNION ALL
  (WITH prev AS (SELECT * FROM st),
    rr AS (SELECT max(it) AS r FROM prev),
    bb AS (SELECT a, b, cnt FROM prev WHERE tag = 1
           ORDER BY cnt DESC, a, b LIMIT 1),
    nw AS (SELECT wid, wcount, wstr AS ow,
        replace(wstr, '|' || bb.a || '||' || bb.b || '|',
          '|' || bb.a || bb.b || '|') AS wstr
      FROM prev, bb WHERE tag = 0),
    dd AS (SELECT a, b, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
        SELECT a, b, cnt FROM prev WHERE tag = 1
        UNION ALL
        SELECT pp.a, pp.b, pp.c
        FROM (SELECT unnest(list_concat(
            list_transform(generate_series(1, len(os) - 1),
              i -> struct_pack(a := os[i], b := os[i+1], c := -wcount)),
            list_transform(generate_series(1, len(ns) - 1),
              i -> struct_pack(a := ns[i], b := ns[i+1], c := wcount)))) AS pp
          FROM (SELECT wcount,
              string_split(ow[2:length(ow)-1], '||') AS os,
              string_split(wstr[2:length(wstr)-1], '||') AS ns
            FROM nw WHERE wstr <> ow) s) u
      ) g GROUP BY 1, 2 HAVING CAST(sum(cnt) AS BIGINT) > 0)
  SELECT rr.r + 1, 0, wid, wcount, wstr, NULL, NULL, NULL::BIGINT
  FROM nw, rr WHERE rr.r < $r
  UNION ALL
  SELECT rr.r + 1, 1, NULL, NULL, NULL, a, b, cnt FROM dd, rr
  WHERE rr.r < $r
  UNION ALL
  SELECT rr.r, 2, NULL, NULL, NULL, bb.a, bb.b, bb.cnt FROM bb, rr
  WHERE rr.r <= $r))
SELECT CAST(it AS BIGINT) AS merge_round, a AS lhs, b AS rhs,
       a || b AS merged, cnt AS pair_count
FROM st WHERE tag = 2"""
  }


  private val jaccardSql: String =
    raw"""round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / len(list_distinct(list_concat(a.sh, b.sh))), 4)"""

  /** Dedup.minhashCandidates mirrored: KM double-hash signatures,
    * 4×4 banding, distinct in-bucket pairs (shared by d2 and d7). */
  /** d16 exact-span shared chain: 40-gram positions from the ACTUAL
    * substrings, duplicated (non-canonical) positions, and their
    * consecutive-run groups. The engine computes gram equality via md5
    * prefix-doubling; this chain uses substr directly — the
    * algorithm-independent re-derivation. */
  private val d16SpanCtes: String = raw"""
d16glen AS (SELECT doc_id, text, length(text) AS n FROM documents),
d16grams AS (SELECT doc_id, unnest(generate_series(1, n - 39)) AS pos,
    text FROM d16glen WHERE n >= 40),
d16g AS (SELECT doc_id, pos, substr(text, CAST(pos AS INTEGER), 40) AS g
  FROM d16grams),
d16grp AS (SELECT g, count(*) AS cnt,
    min(doc_id * 4294967296 + pos) AS canon
  FROM d16g GROUP BY g),
d16dup AS (SELECT d.doc_id, d.pos FROM d16g d JOIN d16grp p ON p.g = d.g
  WHERE p.cnt >= 2 AND d.doc_id * 4294967296 + d.pos <> p.canon),
d16runs AS (SELECT doc_id, pos,
    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM d16dup)""".drop(1)

  /** The d16 span SELECT over [[d16SpanCtes]] — shared verbatim by the
    * window-regime lane and its groupBy+join-back at-scale twin
    * (d16_exact_spans_dist): regime bit-identity on one oracle, the
    * a6/g6/g8/mmr pattern. */
  private val d16ExactSpansSql: String = s"WITH $d16SpanCtes" + raw"""
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 39 AS BIGINT) AS span_end
FROM d16runs GROUP BY doc_id, grp"""

  /** The d16 ingest chain — shared by d16_incremental_spans, its
    * snapshot-served twin, and the served twin's at-scale regime
    * (d16_incremental_served_dist). */
  private val d16IncrementalSql: String = raw"""
WITH i16s AS (SELECT substr(text, CAST(p AS INTEGER), 40) AS g
  FROM (SELECT text, unnest(generate_series(1, length(text) - 39)) AS p
        FROM documents WHERE doc_id % 10 <> 9 AND length(text) >= 40)
  GROUP BY 1),
i16bg AS (SELECT doc_id, p AS pos,
    substr(text, CAST(p AS INTEGER), 40) AS g
  FROM (SELECT doc_id, text,
          unnest(generate_series(1, length(text) - 39)) AS p
        FROM documents WHERE doc_id % 10 = 9 AND length(text) >= 40)),
i16bstat AS (SELECT g, count(*) AS nb,
    min(doc_id * 4294967296 + pos) AS bcanon
  FROM i16bg GROUP BY g),
i16dup AS (SELECT b.doc_id, b.pos
  FROM i16bg b JOIN i16bstat s ON s.g = b.g
  LEFT JOIN i16s x ON x.g = b.g
  WHERE x.g IS NOT NULL
     OR (s.nb >= 2 AND b.doc_id * 4294967296 + b.pos <> s.bcanon)),
i16runs AS (SELECT doc_id, pos,
    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM i16dup)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 39 AS BIGINT) AS span_end
FROM i16runs GROUP BY doc_id, grp"""

  private val lshCandCtes: String = raw"""
hsh AS (SELECT doc_id,
  list_transform(sh, s -> CAST('0x'||substr(md5(s||':a'),1,15) AS BIGINT)) AS n1s,
  list_transform(sh, s -> CAST('0x'||substr(md5(s||':b'),1,15) AS BIGINT)
                          % 140737488355327) AS n2s
  FROM sh),
sig AS (SELECT doc_id, list_transform(generate_series(0,15),
  j -> list_min(list_transform(generate_series(1, len(n1s)),
         i -> n1s[i] + j*n2s[i]))) AS sig FROM hsh),
bands AS (SELECT doc_id, t.b AS band,
  md5(array_to_string(sig[t.b*4+1:t.b*4+4], '|')) AS band_hash
  FROM sig, (SELECT unnest([0,1,2,3]) AS b) t),
cands AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
  ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id)"""
    .drop(1)

  /** dedupClusters' shared closure chain (d7 labels it, d14 rewrites
    * with it): verified ≥0.5-Jaccard pairs → lpad-20 keys → min-label
    * closure (RECURSIVE — the caller's WITH must say so) → per-id
    * component in `ddcomp`. */
  private val d7ClusterCtes: String = raw"""
jpairs AS (SELECT c.doc_a, c.doc_b
  FROM cands c JOIN dsh a ON c.doc_a = a.doc_id
  JOIN dsh b ON c.doc_b = b.doc_id
  WHERE $jaccardSql >= 0.5),
dedges AS (SELECT lpad(CAST(doc_a AS VARCHAR), 20, '0') AS src,
                  lpad(CAST(doc_b AS VARCHAR), 20, '0') AS dst FROM jpairs),
ddsym AS (SELECT src, dst FROM dedges UNION ALL SELECT dst, src FROM dedges),
ddnodes AS (SELECT DISTINCT src AS id FROM ddsym),
ddclos AS (SELECT id, id AS reach FROM ddnodes
  UNION
  SELECT c.id, e.dst FROM ddclos c JOIN ddsym e ON c.reach = e.src),
ddcomp AS MATERIALIZED (SELECT id, min(reach) AS comp FROM ddclos GROUP BY id)"""
    .drop(1)

  /** The short-doc-exact band chain (Dedup.lshBands mirrored for a
    * DIRECT band-row pin — see the e15 oracle comment), parameterized
    * by the (doc_id, toks) source CTE so e15 (the documents table)
    * and v2 (the refreshed snapshot) share one construction. */
  private def bandChainCtes(src: String): String = raw"""
shE AS (SELECT doc_id,
  CASE WHEN len(toks) < 3 THEN [coalesce(array_to_string(toks, ' '), '')]
       ELSE list_transform(generate_series(0, len(toks)-3),
              i -> array_to_string(toks[i+1:i+3], ' ')) END AS sh
  FROM $src),
dshE AS (SELECT doc_id, list_distinct(sh) AS sh FROM shE),
hshE AS (SELECT doc_id,
  list_transform(sh, s -> CAST('0x'||substr(md5(s||':a'),1,15) AS BIGINT)) AS n1s,
  list_transform(sh, s -> CAST('0x'||substr(md5(s||':b'),1,15) AS BIGINT)
                          % 140737488355327) AS n2s
  FROM dshE),
sigE AS (SELECT doc_id, list_transform(generate_series(0,15),
  j -> list_min(list_transform(generate_series(1, len(n1s)),
         i -> n1s[i] + j*n2s[i]))) AS sig FROM hshE)""".drop(1)

  /** Dedup.simhash(text, 16) mirrored bit-by-bit. */
  private val simhash16Sql: String = (0 until 16).map { j =>
    val pos = j / 4 + 1
    val div = 1 << (3 - j % 4)
    s"CASE WHEN 2*coalesce(list_sum(list_transform(toks, " +
    s"t -> ((strpos('0123456789abcdef', substr(md5(t), $pos, 1))-1)//$div)%2)), 0) " +
    s">= len(toks) THEN '1' ELSE '0' END"
  }.mkString("||")

  private val stopwordsSql: String =
    TextOps.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")

  private val langFoldSql: String = {
    val langs = TextOps.LangLexicon.toSeq.sortBy(_._1) // de, en, es, fr
    val scores = langs.map { case (l, ws) =>
      s"CAST(len(list_filter(toks, t -> list_contains(" +
      ws.map(w => s"'$w'").mkString("[", ",", "]") +
      s", t))) AS DOUBLE)/greatest(len(toks),1) AS s_$l"
    }.mkString(",\n  ")
    val folds = langs.tail.zipWithIndex.map { case ((l, _), i) =>
      val (pb, ps) = (s"b${i + 1}", s"s${i + 1}")
      s"CASE WHEN s_$l > $ps THEN '$l' ELSE $pb END AS b${i + 2}, " +
      s"CASE WHEN s_$l > $ps THEN s_$l ELSE $ps END AS s${i + 2}"
    }
    raw"""ls AS (SELECT doc_id, text, $scores FROM toks),
f1 AS (SELECT *, 'de' AS b1, s_de AS s1 FROM ls),
f2 AS (SELECT *, ${folds(0)} FROM f1),
f3 AS (SELECT *, ${folds(1)} FROM f2),
f4 AS (SELECT *, ${folds(2)} FROM f3)"""
  }

  /** t16 tokenize oracle, shared by the cold lane and the
    * snapshot-served twin (the trained vocab frame is identical). */
  private val t16TokSql: String = dq(raw"""
SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(string_split(
         w.wstr[2:length(w.wstr)-1], '||'))) AS BIGINT) AS n_bpe_tokens
FROM (SELECT doc_id, unnest(toks) AS word FROM toks) dw
JOIN bw${T16Rounds + 1} w USING (word)
GROUP BY dw.doc_id""",
      extra = bpeCtes)

  /** t15/e16 shared oracle: the NB quality chain (see
    * TextOps.nbQualityClassifier) — the e16 streaming serve scores
    * with the identical frozen model, so one SQL pins both lanes. */
  /** The NB training+scoring CTE chain, shared by t15/e16 and the
    * curate composition. */
  private val nbCtes: String = raw"""
q15 AS (SELECT doc_id, round(0.25*lenok + 0.25*least(stop*10.0, 1.0)
                     + 0.25*alpha + 0.25*dst, 4) AS q FROM (
  SELECT doc_id,
    CASE WHEN ml >= 3.0 AND ml <= 10.0 THEN 1.0 ELSE 0.0 END AS lenok,
    stop, alpha, dst FROM (
    SELECT doc_id,
      CAST(length(array_to_string(toks,'')) AS DOUBLE)/greatest(len(toks),1) AS ml,
      CAST(len(list_filter(toks, t -> list_contains($stopwordsSql, t)))
        AS DOUBLE)/greatest(len(toks),1) AS stop,
      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        /greatest(length(text),1) AS alpha,
      CAST(len(list_distinct(toks)) AS DOUBLE)/greatest(len(toks),1) AS dst
    FROM rtoks) i) o),
seed15 AS (SELECT t.doc_id,
    CASE WHEN q15.q >= 0.72 THEN 'pos' ELSE 'neg' END AS cls, t.toks
  FROM toks t JOIN q15 USING (doc_id) WHERE t.doc_id % 3 = 0),
pri0 AS (SELECT CAST(count(*) FILTER (WHERE cls = 'pos') AS BIGINT) AS np,
    CAST(count(*) AS BIGINT) AS n FROM seed15),
tcnt AS (SELECT term,
    CAST(count(*) FILTER (WHERE cls = 'pos') AS BIGINT) AS cp,
    CAST(count(*) FILTER (WHERE cls = 'neg') AS BIGINT) AS cn
  FROM (SELECT cls, unnest(toks) AS term FROM seed15) u GROUP BY term),
tot AS (SELECT coalesce(sum(cp), 0) AS tp, coalesce(sum(cn), 0) AS tn,
    CAST(count(*) AS BIGINT) AS v FROM tcnt),
model AS (SELECT term,
    CAST(floor(-ln((cp + 1.0) / (tp + v)) * 1e6 + 0.5) AS BIGINT) AS nllp,
    CAST(floor(-ln((cn + 1.0) / (tn + v)) * 1e6 + 0.5) AS BIGINT) AS nlln
  FROM tcnt, tot),
dtf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM toks) u GROUP BY 1, 2),
sums AS (SELECT d.doc_id,
    sum(d.tf * coalesce(m.nllp,
      CAST(floor(-ln(1.0 / (tot.tp + tot.v)) * 1e6 + 0.5) AS BIGINT)))
      AS sp,
    sum(d.tf * coalesce(m.nlln,
      CAST(floor(-ln(1.0 / (tot.tn + tot.v)) * 1e6 + 0.5) AS BIGINT)))
      AS sn
  FROM dtf d LEFT JOIN model m USING (term), tot
  GROUP BY d.doc_id),
bt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM toks),
pri AS (SELECT
    CAST(floor(-ln((np + 1.0) / (n + 2.0)) * 1e6 + 0.5) AS BIGINT)
      AS nllp,
    CAST(floor(-ln((n - np + 1.0) / (n + 2.0)) * 1e6 + 0.5) AS BIGINT)
      AS nlln
  FROM pri0)""".drop(1)

  private val t15Sql: String = dq(raw"""
SELECT b.doc_id, b.n_tokens,
       CAST(coalesce(s.sp, 0) + pri.nllp AS BIGINT) AS score_pos,
       CAST(coalesce(s.sn, 0) + pri.nlln AS BIGINT) AS score_neg,
       CASE WHEN coalesce(s.sp, 0) + pri.nllp
              <= coalesce(s.sn, 0) + pri.nlln
            THEN 'pos' ELSE 'neg' END AS nb_label
FROM bt b LEFT JOIN sums s USING (doc_id), pri""", extra = nbCtes)

  /** curate_corpus oracle: the t15 chain picks survivors, the d13
    * block-df pass (recomputed on the SURVIVOR corpus) scrubs
    * boilerplate, the BPE chain retrains on the curated text
    * (bpeCtesFrom("ctoks", "cb")), and the p11 pack window emits the
    * final rows — four pinned lanes composed into one statement. */
  private val curateSql: String = dq(raw"""
SELECT doc_id, shard, n_bpe_tokens,
  strt // 512 AS pack_id,
  strt % 512 AS pack_offset
FROM (SELECT doc_id, shard, n_bpe_tokens,
        CAST(sum(n_bpe_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          - n_bpe_tokens AS strt
      FROM (SELECT doc_id, doc_id % 8 AS shard, n_bpe_tokens
            FROM cbtok) l) c""",
      extra = nbCtes + "," + raw"""
ckeep AS MATERIALIZED (SELECT b.doc_id
  FROM bt b LEFT JOIN sums s USING (doc_id), pri
  WHERE coalesce(s.sp, 0) + pri.nllp <= coalesce(s.sn, 0) + pri.nlln),
cfb AS MATERIALIZED (SELECT doc_id, s.blk AS blk, s.btext AS btext FROM (
  SELECT r.doc_id, unnest(list_transform(
      generate_series(0, CAST((len(r.toks) + 2) // 3 AS BIGINT) - 1),
      i -> struct_pack(blk := i,
        btext := array_to_string(r.toks[i*3+1 : i*3+3], ' ')))) AS s
    FROM rtoks r JOIN ckeep USING (doc_id) WHERE len(r.toks) > 0) t),
cdf AS (SELECT btext, count(DISTINCT doc_id) AS df FROM cfb
  GROUP BY btext HAVING count(DISTINCT doc_id) >= 4),
cdocs AS (SELECT doc_id,
    coalesce(string_agg(CASE WHEN cdf.df IS NULL THEN cfb.btext END, ' '
      ORDER BY blk), '') AS ctext
  FROM cfb LEFT JOIN cdf USING (btext) GROUP BY doc_id),
cdd AS (SELECT doc_id, ctext FROM (
    SELECT doc_id, ctext, row_number() OVER (
      PARTITION BY md5(ctext) ORDER BY doc_id) AS rn FROM cdocs) z
  WHERE rn = 1),
ctoks AS MATERIALIZED (SELECT doc_id,
    list_filter(string_split_regex(trim(lower(ctext)), '\s+'),
      t -> t <> '') AS toks
  FROM cdd),""".drop(1) + "\n" + bpeCtesFrom("ctoks", "cb") + "," + raw"""
cbtok AS (SELECT dw.doc_id, CAST(sum(len(string_split(
    w.wstr[2:length(w.wstr)-1], '||'))) AS BIGINT) AS n_bpe_tokens
  FROM (SELECT doc_id, unnest(toks) AS word FROM ctoks) dw
  JOIN cbw${T16Rounds + 1} w USING (word)
  GROUP BY dw.doc_id)""".drop(1))

  /** reportCorpus mirrored (shared by the batch report_corpus and the
    * streamed e19 card — exact integer sums make the stream fold
    * order-independent, so one oracle pins both): the t2 quality
    * chain per doc as a 1e4 fixed-point BIGINT, token counts from the
    * same raw-token frame, one (lang, source) agg + the 1-row total
    * cross. */
  private val reportCorpusSql: String = dq(raw"""
SELECT lang, source, n_docs,
       round(CAST(n_docs AS DOUBLE) / tot, 6) AS share,
       total_tokens, total_chars,
       round(CAST(qs AS DOUBLE) / (n_docs * 10000), 4) AS mean_quality
FROM (SELECT lang, source, count(*) AS n_docs,
        CAST(sum(ntok) AS BIGINT) AS total_tokens,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        CAST(sum(q4) AS BIGINT) AS qs
      FROM dcard GROUP BY lang, source) g,
     (SELECT CAST(count(*) AS DOUBLE) AS tot FROM documents) t""",
      extra = raw"""
dq4 AS (SELECT doc_id,
  CAST(round(round(0.25*lenok + 0.25*least(stop*10.0, 1.0)
       + 0.25*alpha + 0.25*dst, 4) * 10000) AS BIGINT) AS q4
  FROM (
  SELECT doc_id,
    CASE WHEN ml >= 3.0 AND ml <= 10.0 THEN 1.0 ELSE 0.0 END AS lenok,
    stop, alpha, dst FROM (
    SELECT doc_id,
      CAST(length(array_to_string(toks,'')) AS DOUBLE)/greatest(len(toks),1) AS ml,
      CAST(len(list_filter(toks, t -> list_contains($stopwordsSql, t)))
        AS DOUBLE)/greatest(len(toks),1) AS stop,
      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        /greatest(length(text),1) AS alpha,
      CAST(len(list_distinct(toks)) AS DOUBLE)/greatest(len(toks),1) AS dst
    FROM rtoks) i) o),
dtok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS ntok FROM rtoks),
dcard AS (SELECT d.lang, d.source, d.n_chars, dt.ntok, dqq.q4
  FROM documents d JOIN dtok dt ON dt.doc_id = d.doc_id
  JOIN dq4 dqq ON dqq.doc_id = d.doc_id)""".drop(1))

  val docs: Map[String, String] = Map(
    "d1_exact_dedup" -> raw"""
SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
       count(*) AS n_dups FROM documents GROUP BY md5(text)""",
    "d2_minhash_lsh" -> dq(raw"""
SELECT c.doc_a, c.doc_b, $jaccardSql AS jaccard
FROM cands c JOIN dsh a ON c.doc_a = a.doc_id JOIN dsh b ON c.doc_b = b.doc_id""",
      extra = lshCandCtes),
    // d12: the oracle is d2's FULL-corpus candidate SQL verbatim,
    // restricted to pairs touching the % 10 = 9 batch — matching it
    // proves the engine's incremental path (standing band index +
    // batch probe, no standing re-pair) equals the rebuild
    "d12_incremental_dedup" -> dq(raw"""
SELECT c.doc_a, c.doc_b, $jaccardSql AS jaccard
FROM cands c JOIN dsh a ON c.doc_a = a.doc_id JOIN dsh b ON c.doc_b = b.doc_id
WHERE c.doc_a % 10 = 9 OR c.doc_b % 10 = 9""",
      extra = lshCandCtes),
    // served twin: snapshot-read standing index, identical semantics
    "d12_incremental_served" -> dq(raw"""
SELECT c.doc_a, c.doc_b, $jaccardSql AS jaccard
FROM cands c JOIN dsh a ON c.doc_a = a.doc_id JOIN dsh b ON c.doc_b = b.doc_id
WHERE c.doc_a % 10 = 9 OR c.doc_b % 10 = 9""",
      extra = lshCandCtes),
    // dedupClusters mirrored: d2 candidates at jaccard >= 0.5 →
    // min-label closure over lpad-20 keys (numeric == string order;
    // 20 > the 19 digits of a non-negative long, so ids never truncate),
    // min id canonical. RECURSIVE covers the whole WITH list.
    "d7_dedup_clusters" ->
      (s"WITH RECURSIVE $docCtes,$lshCandCtes,$d7ClusterCtes," + raw"""
ddsize AS (SELECT comp, count(*) AS cluster_size FROM ddcomp GROUP BY comp)
SELECT CAST(d.id AS BIGINT) AS doc_id, CAST(d.comp AS BIGINT) AS cluster_id,
       s.cluster_size, d.id = d.comp AS is_canonical
FROM ddcomp d JOIN ddsize s USING (comp)"""),
    // (shared CTE chain for the two d16 lanes lives in d16SpanCtes)
    // d16 exact-span dedup: the oracle derives every span from the
    // ACTUAL 40-char substrings (generate_series positions + substr
    // grouping) while Spark runs the md5 prefix-doubling chain — an
    // algorithm-independent pin: a doubling bug OR a hash collision
    // both hash-mismatch. Same canonical key (doc·2^32 + pos), same
    // consecutive-run merge.
    "d16_exact_spans" -> d16ExactSpansSql,
    // at-scale regime (groupBy(h)+join-back, no single-key window) on
    // the same oracle — the skew story a boilerplate corpus needs
    "d16_exact_spans_dist" -> d16ExactSpansSql,
    // the rewrite: per-position chars anti-joined against the span
    // positions, survivors re-assembled in position order; every doc
    // emits a row ('' when fully cut)
    "d16_exact_span_rewrite" -> (s"WITH $d16SpanCtes" + raw""",
d16spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 39 AS e
  FROM d16runs GROUP BY doc_id, grp),
d16cut AS (SELECT doc_id, unnest(generate_series(s, e)) AS pos
  FROM d16spans),
d16chars AS (SELECT doc_id, unnest(generate_series(1, n)) AS pos, text
  FROM d16glen WHERE n >= 1),
d16kept AS (SELECT c.doc_id,
    string_agg(substr(c.text, CAST(c.pos AS INTEGER), 1), ''
      ORDER BY c.pos) AS kept
  FROM d16chars c LEFT JOIN d16cut x
    ON x.doc_id = c.doc_id AND x.pos = c.pos
  WHERE x.doc_id IS NULL
  GROUP BY c.doc_id)
SELECT d.doc_id, coalesce(k.kept, '') AS text
FROM documents d LEFT JOIN d16kept k ON k.doc_id = d.doc_id"""),
    // the d16 INGEST form: batch grams (actual substrings again)
    // against the standing distinct-gram set — standing hit OR
    // batch-internal tiebreak loss duplicates a position; same run
    // merge. First-ingested wins like d15 (standing never re-judged).
    "d16_incremental_spans" -> d16IncrementalSql,
    // the snapshot-served twin probes the SAME standing index content
    // reopened from parquet — the roundtrip changes no values, the
    // cold ingest lane's SQL pins it verbatim
    "d16_incremental_served" -> d16IncrementalSql,
    // ...and the served twin's at-scale regime (batch-internal dup
    // detection via groupBy+join-back instead of a window)
    "d16_incremental_served_dist" -> d16IncrementalSql,
    // e21 streamed span ingest: two-fold macro expansion — fold 0
    // probes the %10<>9 standing, fold 1 probes standing + ALL of
    // fold 0 (every arrival becomes standing); per fold the i16 chain
    // verbatim, outputs unioned
    "e21_stream_span_ingest" -> (raw"""
WITH e21as AS (SELECT substr(text, CAST(q AS INTEGER), 40) AS g
  FROM (SELECT text, unnest(generate_series(1, length(text) - 39)) AS q
        FROM documents WHERE (doc_id % 10 <> 9) AND length(text) >= 40)
  GROUP BY 1),
e21ag AS (SELECT doc_id, q AS pos, substr(text, CAST(q AS INTEGER), 40) AS g
  FROM (SELECT doc_id, text,
          unnest(generate_series(1, length(text) - 39)) AS q
        FROM documents WHERE (doc_id % 20 = 9) AND length(text) >= 40)),
e21at AS (SELECT g, count(*) AS nb,
    min(doc_id * 4294967296 + pos) AS bcanon FROM e21ag GROUP BY g),
e21ad AS (SELECT b.doc_id, b.pos FROM e21ag b JOIN e21at s ON s.g = b.g
  LEFT JOIN e21as x ON x.g = b.g
  WHERE x.g IS NOT NULL
     OR (s.nb >= 2 AND b.doc_id * 4294967296 + b.pos <> s.bcanon)),
e21ar AS (SELECT doc_id, pos,
    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM e21ad),
e21asp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
    CAST(max(pos) + 39 AS BIGINT) AS span_end
  FROM e21ar GROUP BY doc_id, grp),
e21bs AS (SELECT substr(text, CAST(q AS INTEGER), 40) AS g
  FROM (SELECT text, unnest(generate_series(1, length(text) - 39)) AS q
        FROM documents WHERE (doc_id % 10 <> 9 OR doc_id % 20 = 9) AND length(text) >= 40)
  GROUP BY 1),
e21bg AS (SELECT doc_id, q AS pos, substr(text, CAST(q AS INTEGER), 40) AS g
  FROM (SELECT doc_id, text,
          unnest(generate_series(1, length(text) - 39)) AS q
        FROM documents WHERE (doc_id % 20 = 19) AND length(text) >= 40)),
e21bt AS (SELECT g, count(*) AS nb,
    min(doc_id * 4294967296 + pos) AS bcanon FROM e21bg GROUP BY g),
e21bd AS (SELECT b.doc_id, b.pos FROM e21bg b JOIN e21bt s ON s.g = b.g
  LEFT JOIN e21bs x ON x.g = b.g
  WHERE x.g IS NOT NULL
     OR (s.nb >= 2 AND b.doc_id * 4294967296 + b.pos <> s.bcanon)),
e21br AS (SELECT doc_id, pos,
    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM e21bd),
e21bsp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
    CAST(max(pos) + 39 AS BIGINT) AS span_end
  FROM e21br GROUP BY doc_id, grp)
SELECT * FROM e21asp UNION ALL SELECT * FROM e21bsp"""),
    // fuzzyRewrite mirrored: d7's cluster chain VERBATIM, then the
    // corpus anti-joined against its non-canonical members (min-id
    // survivor); text pinned by digest
    "d14_fuzzy_rewrite" ->
      (s"WITH RECURSIVE $docCtes,$lshCandCtes,$d7ClusterCtes" + raw"""
SELECT d.doc_id, d.lang, d.source, d.n_chars, md5(d.text) AS text_md5
FROM documents d
LEFT JOIN ddcomp c
  ON lpad(CAST(d.doc_id AS VARCHAR), 20, '0') = c.id AND c.id <> c.comp
WHERE c.id IS NULL"""),
    // incrementalRewrite mirrored: d12's batch-touching restriction on
    // the shared cands, verified pairs close (d7's chain shape), a
    // batch doc drops when its cluster holds a standing member
    // (id % 10 <> 9 — standing membership derives from the id split)
    // or a smaller batch sibling; the standing side never appears in
    // the output
    "d15_incremental_rewrite" ->
      (s"WITH RECURSIVE $docCtes,$lshCandCtes," + raw"""
ipairs AS (SELECT c.doc_a, c.doc_b
  FROM cands c JOIN dsh a ON c.doc_a = a.doc_id
  JOIN dsh b ON c.doc_b = b.doc_id
  WHERE (c.doc_a % 10 = 9 OR c.doc_b % 10 = 9)
    AND $jaccardSql >= 0.5),
iedges AS (SELECT lpad(CAST(doc_a AS VARCHAR), 20, '0') AS src,
                  lpad(CAST(doc_b AS VARCHAR), 20, '0') AS dst FROM ipairs),
isym AS (SELECT src, dst FROM iedges UNION ALL SELECT dst, src FROM iedges),
inodes AS (SELECT DISTINCT src AS id FROM isym),
iclos AS (SELECT id, id AS reach FROM inodes
  UNION
  SELECT c.id, e.dst FROM iclos c JOIN isym e ON c.reach = e.src),
icomp AS MATERIALIZED (SELECT id, min(reach) AS comp FROM iclos GROUP BY id),
stcomp AS MATERIALIZED (SELECT DISTINCT comp FROM icomp
  WHERE CAST(id AS BIGINT) % 10 <> 9),
ilosers AS MATERIALIZED (SELECT id FROM icomp WHERE comp IN (SELECT comp FROM stcomp)
  UNION ALL
  SELECT id FROM icomp WHERE comp NOT IN (SELECT comp FROM stcomp)
    AND id <> comp)
SELECT d.doc_id, d.lang, d.source, d.n_chars, md5(d.text) AS text_md5
FROM documents d
WHERE d.doc_id % 10 = 9
  AND lpad(CAST(d.doc_id AS VARCHAR), 20, '0')
      NOT IN (SELECT id FROM ilosers)"""),
    // dedupIngestStream mirrored as a SEQUENTIAL two-fold macro
    // expansion: fold 1 = batch (%20=9) against standing0 (%10<>9);
    // fold 2 = batch (%20=19) against standing0 ∪ fold-1 survivors
    // (survivors-only state growth — dropped duplicates never join the
    // index). Each fold is the d15 chain: batch-touching verified
    // pairs within the fold's universe, closure, standing-wins /
    // min-id-sibling drop rule.
    "e18_stream_dedup_ingest" ->
      (s"WITH RECURSIVE $docCtes,$lshCandCtes," + raw"""
mdsh AS MATERIALIZED (SELECT * FROM dsh),
mcands AS MATERIALIZED (SELECT * FROM cands),
e1p AS MATERIALIZED (SELECT c.doc_a, c.doc_b
  FROM mcands c JOIN mdsh a ON c.doc_a = a.doc_id
  JOIN mdsh b ON c.doc_b = b.doc_id
  WHERE (c.doc_a % 20 = 9 OR c.doc_b % 20 = 9)
    AND (c.doc_a % 10 <> 9 OR c.doc_a % 20 = 9)
    AND (c.doc_b % 10 <> 9 OR c.doc_b % 20 = 9)
    AND $jaccardSql >= 0.5),
e1e AS (SELECT lpad(CAST(doc_a AS VARCHAR), 20, '0') AS src,
               lpad(CAST(doc_b AS VARCHAR), 20, '0') AS dst FROM e1p),
e1s AS (SELECT src, dst FROM e1e UNION ALL SELECT dst, src FROM e1e),
e1n AS (SELECT DISTINCT src AS id FROM e1s),
e1c AS (SELECT id, id AS reach FROM e1n
  UNION
  SELECT c.id, e.dst FROM e1c c JOIN e1s e ON c.reach = e.src),
e1m AS MATERIALIZED (SELECT id, min(reach) AS comp FROM e1c GROUP BY id),
e1st AS MATERIALIZED (SELECT DISTINCT comp FROM e1m WHERE CAST(id AS BIGINT) % 10 <> 9),
e1l AS MATERIALIZED (SELECT id FROM e1m WHERE comp IN (SELECT comp FROM e1st)
  UNION ALL
  SELECT id FROM e1m WHERE comp NOT IN (SELECT comp FROM e1st)
    AND id <> comp),
surv1 AS MATERIALIZED (SELECT doc_id FROM documents
  WHERE doc_id % 20 = 9
    AND lpad(CAST(doc_id AS VARCHAR), 20, '0')
        NOT IN (SELECT id FROM e1l)),
e2p AS MATERIALIZED (SELECT c.doc_a, c.doc_b
  FROM mcands c JOIN mdsh a ON c.doc_a = a.doc_id
  JOIN mdsh b ON c.doc_b = b.doc_id
  WHERE (c.doc_a % 20 = 19 OR c.doc_b % 20 = 19)
    AND (c.doc_a % 10 <> 9 OR c.doc_a % 20 = 19
         OR c.doc_a IN (SELECT doc_id FROM surv1))
    AND (c.doc_b % 10 <> 9 OR c.doc_b % 20 = 19
         OR c.doc_b IN (SELECT doc_id FROM surv1))
    AND $jaccardSql >= 0.5),
e2e AS (SELECT lpad(CAST(doc_a AS VARCHAR), 20, '0') AS src,
               lpad(CAST(doc_b AS VARCHAR), 20, '0') AS dst FROM e2p),
e2s AS (SELECT src, dst FROM e2e UNION ALL SELECT dst, src FROM e2e),
e2n AS (SELECT DISTINCT src AS id FROM e2s),
e2c AS (SELECT id, id AS reach FROM e2n
  UNION
  SELECT c.id, e.dst FROM e2c c JOIN e2s e ON c.reach = e.src),
e2m AS MATERIALIZED (SELECT id, min(reach) AS comp FROM e2c GROUP BY id),
e2st AS MATERIALIZED (SELECT DISTINCT comp FROM e2m
  WHERE CAST(id AS BIGINT) % 10 <> 9
     OR CAST(id AS BIGINT) IN (SELECT doc_id FROM surv1)),
e2l AS MATERIALIZED (SELECT id FROM e2m WHERE comp IN (SELECT comp FROM e2st)
  UNION ALL
  SELECT id FROM e2m WHERE comp NOT IN (SELECT comp FROM e2st)
    AND id <> comp),
surv2 AS MATERIALIZED (SELECT doc_id FROM documents
  WHERE doc_id % 20 = 19
    AND lpad(CAST(doc_id AS VARCHAR), 20, '0')
        NOT IN (SELECT id FROM e2l))
SELECT d.doc_id, d.lang, d.source, d.n_chars, md5(d.text) AS text_md5
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM surv1)
   OR d.doc_id IN (SELECT doc_id FROM surv2)"""),
    // semDedup mirrored: planted 0.75-scaled copies (direction
    // preserved → cosine ≈ 1.0 to their source), md5-sampled codebook
    // assignment exactly as s2, rank by rounded centroid-sim within
    // cluster, drop on cosine ≥ 0.9 to any higher-ranked representative
    "d8_semdedup" -> raw"""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.75)
  FROM embeddings WHERE vec_id % 5 = 0),
cb AS (SELECT vec_id AS centroid_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
cv AS (SELECT c.centroid_id, CAST(e.embedding AS DOUBLE[]) AS cvec
  FROM cb c JOIN embeddings e ON e.vec_id = c.centroid_id),
sims AS (SELECT p.vec_id, c.centroid_id,
    list_dot_product(p.v, c.cvec) /
      (sqrt(list_dot_product(p.v, p.v)) *
       sqrt(list_dot_product(c.cvec, c.cvec))) AS sim
  FROM corpus p CROSS JOIN cv c),
assigned AS (SELECT vec_id, centroid_id, round(sim, 6) AS csim FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
      ORDER BY round(sim, 6) DESC, centroid_id) AS rn FROM sims) t
  WHERE rn = 1),
ranked AS (SELECT vec_id, centroid_id, csim,
    row_number() OVER (PARTITION BY centroid_id
      ORDER BY csim DESC, vec_id) AS rnk FROM assigned),
dropped AS (SELECT DISTINCT m.vec_id
  FROM ranked m JOIN ranked r
    ON r.centroid_id = m.centroid_id AND r.rnk < m.rnk AND r.rnk <= 64
  JOIN corpus mv ON mv.vec_id = m.vec_id
  JOIN corpus rv ON rv.vec_id = r.vec_id
  WHERE round(list_dot_product(mv.v, rv.v) /
      (sqrt(list_dot_product(mv.v, mv.v)) *
       sqrt(list_dot_product(rv.v, rv.v))), 6) >= 0.9)
SELECT r.vec_id, r.centroid_id, CAST(r.rnk AS BIGINT) AS "rank",
       d.vec_id IS NULL AS keep
FROM ranked r LEFT JOIN dropped d ON d.vec_id = r.vec_id""",
    // blockDedup mirrored: raw-case tokens, non-overlapping 3-token
    // blocks, first occurrence = min (doc_id, blk) via the same
    // row_number ordering, reassembly in block order (string_agg with
    // ORDER BY = Spark's sort_array-of-structs transform)
    "d9_block_dedup" -> dq(raw"""
SELECT doc_id, count(*) AS n_blocks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN btext END, ' '
         ORDER BY blk), '') AS text_dedup
FROM rblk GROUP BY doc_id""",
      extra = raw"""
blk AS (SELECT doc_id, unnest(list_transform(
    generate_series(0, CAST((len(toks) + 2) // 3 AS BIGINT) - 1),
    i -> struct_pack(blk := i,
      btext := array_to_string(toks[i*3+1 : i*3+3], ' ')))) AS s
  FROM rtoks WHERE len(toks) > 0),
rblk AS (SELECT doc_id, s.blk AS blk, s.btext AS btext,
    row_number() OVER (PARTITION BY md5(s.btext)
      ORDER BY doc_id, s.blk) AS rn
  FROM blk)""".drop(1)),
    // boilerplateDedup mirrored: same raw-case 3-token aligned blocks
    // as d9, df = distinct-doc count per block text, df >= 4 drops the
    // block from EVERY doc, survivors reassemble in block order
    "d13_boilerplate_dedup" -> dq(raw"""
SELECT doc_id, count(*) AS n_blocks,
       CAST(sum(CASE WHEN d13.df IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       coalesce(string_agg(CASE WHEN d13.df IS NULL THEN btext END, ' '
         ORDER BY blk), '') AS text_clean
FROM fb13 LEFT JOIN d13 USING (btext) GROUP BY doc_id""",
      extra = raw"""
fb13 AS (SELECT doc_id, s.blk AS blk, s.btext AS btext FROM (
  SELECT doc_id, unnest(list_transform(
      generate_series(0, CAST((len(toks) + 2) // 3 AS BIGINT) - 1),
      i -> struct_pack(blk := i,
        btext := array_to_string(toks[i*3+1 : i*3+3], ' ')))) AS s
    FROM rtoks WHERE len(toks) > 0) t),
d13 AS (SELECT btext, count(DISTINCT doc_id) AS df FROM fb13
  GROUP BY btext HAVING count(DISTINCT doc_id) >= 4)""".drop(1)),
    // the streaming intra-doc dedup emits the same order-independent
    // row set as batch d11 — identical oracle
    "e10_stream_intradoc" -> dq(raw"""
SELECT doc_id, CAST(len(blocks) AS BIGINT) AS n_blocks,
       CAST(len(kept) AS BIGINT) AS n_kept,
       array_to_string(kept, ' ') AS text_dedup
FROM (SELECT doc_id, blocks,
        list_filter(blocks, (blk, i) -> list_position(blocks, blk) = i)
          AS kept
      FROM iblk) t""",
      extra = raw"""
iblk AS (SELECT doc_id, list_transform(
    generate_series(0, CAST((len(toks) + 2) // 3 AS BIGINT) - 1),
    i -> array_to_string(toks[i*3+1 : i*3+3], ' ')) AS blocks
  FROM rtoks WHERE len(toks) > 0)""".drop(1)),
    // intraDocDedup mirrored: per-doc 3-token blocks, keep a block iff
    // list_position finds it first at its own index — all list lambdas,
    // no corpus-wide state in either engine
    "d11_intradoc_dedup" -> dq(raw"""
SELECT doc_id, CAST(len(blocks) AS BIGINT) AS n_blocks,
       CAST(len(kept) AS BIGINT) AS n_kept,
       array_to_string(kept, ' ') AS text_dedup
FROM (SELECT doc_id, blocks,
        list_filter(blocks, (blk, i) -> list_position(blocks, blk) = i)
          AS kept
      FROM iblk) t""",
      extra = raw"""
iblk AS (SELECT doc_id, list_transform(
    generate_series(0, CAST((len(toks) + 2) // 3 AS BIGINT) - 1),
    i -> array_to_string(toks[i*3+1 : i*3+3], ' ')) AS blocks
  FROM rtoks WHERE len(toks) > 0)""".drop(1)),
    // cdcDedup mirrored: same 15-hex-digit md5 window hash mod 4 picks
    // the cuts, chunks sliced between consecutive cuts, then d9's
    // first-occurrence + reassembly machinery
    "d10_cdc_dedup" -> dq(raw"""
SELECT doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN ctext END, ' '
         ORDER BY ck), '') AS text_dedup
FROM rchnk GROUP BY doc_id""",
      extra = raw"""
cdoc AS (SELECT doc_id, toks,
    list_sort(list_distinct(list_append(
      list_filter(generate_series(2, greatest(len(toks), 2)),
        p -> p <= len(toks) AND
          CAST('0x' || substr(md5(array_to_string(toks[p-1:p], ' ')),
            1, 15) AS BIGINT) % 4 = 0),
      len(toks)))) AS cuts
  FROM rtoks WHERE len(toks) > 0),
chnk AS (SELECT doc_id, unnest(list_transform(
    generate_series(1, len(cuts)),
    i -> struct_pack(ck := i - 1,
      ctext := array_to_string(
        toks[(CASE WHEN i = 1 THEN 1 ELSE cuts[i-1] + 1 END):cuts[i]],
        ' ')))) AS s
  FROM cdoc),
rchnk AS (SELECT doc_id, s.ck AS ck, s.ctext AS ctext,
    row_number() OVER (PARTITION BY md5(s.ctext)
      ORDER BY doc_id, s.ck) AS rn
  FROM chnk)""".drop(1)),
    "d3_simhash" -> dq(s"SELECT doc_id, $simhash16Sql AS simhash FROM toks"),
    "d4_ngram_jaccard" -> dq(raw"""
SELECT da.doc_id AS doc_a, db.doc_id AS doc_b, ${jaccardSql
      .replace("a.sh", "a2.sh").replace("b.sh", "b2.sh")} AS jaccard
FROM documents da JOIN documents db ON db.doc_id = da.doc_id + 1
JOIN dsh a2 ON a2.doc_id = da.doc_id JOIN dsh b2 ON b2.doc_id = db.doc_id"""),
    // gopherFilter mirrored: keep is computed from the ROUNDED signal
    // values in both engines, so a boundary-grazing raw ratio can never
    // split the verdict across engines
    "t11_gopher_filter" -> dq(raw"""
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       ellipsis_frac, alpha_frac, n_stopwords,
       (n_words BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3.0 AND 10.0
        AND symbol_ratio < 0.1 AND bullet_frac < 0.9
        AND ellipsis_frac < 0.3 AND alpha_frac > 0.8
        AND n_stopwords >= 2) AS keep
FROM (SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
        round(CAST(coalesce(len(array_to_string(toks, '')), 0) AS DOUBLE)
              / greatest(nw, 1), 4) AS mean_word_len,
        round((CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE)
               + (len(text) - len(replace(text, '...', ''))) / 3
               + (len(text) - len(replace(text, '…', ''))))
              / greatest(nw, 1), 4) AS symbol_ratio,
        round(CAST(len(list_filter(lines,
                l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
              / greatest(len(lines), 1), 4) AS bullet_frac,
        round(CAST(len(list_filter(lines,
                l -> regexp_matches(trim(l), '(\.\.\.|…)$$'))) AS DOUBLE)
              / greatest(len(lines), 1), 4) AS ellipsis_frac,
        round(CAST(len(list_filter(toks,
                t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
              / greatest(nw, 1), 4) AS alpha_frac,
        CAST(len(list_intersect(
          list_distinct(list_transform(toks, t -> lower(t))),
          ['the','be','to','of','and','that','have','with'])) AS BIGINT)
          AS n_stopwords
      FROM (SELECT doc_id, text, toks, len(toks) AS nw,
              list_filter(string_split(text, chr(10)),
                l -> trim(l) <> '') AS lines
            FROM rtoks) sig) r"""),
    "t1_token_stats" -> dq(raw"""
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(len(list_filter(string_split_regex(
    regexp_replace(regexp_replace(regexp_replace(text,
      '([a-zA-Z])(\d)', '\1 \2', 'g'),
      '(\d)([a-zA-Z])', '\1 \2', 'g'),
      '([^\sa-zA-Z0-9])', ' \1', 'g'), '\s+'), t -> t <> '')) AS BIGINT)
    AS n_bpeish,
  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
FROM rtoks"""),
    "t2_quality_score" -> dq(raw"""
SELECT doc_id, round(0.25*lenok + 0.25*least(stop*10.0, 1.0)
                     + 0.25*alpha + 0.25*dst, 4) AS quality FROM (
  SELECT doc_id,
    CASE WHEN ml >= 3.0 AND ml <= 10.0 THEN 1.0 ELSE 0.0 END AS lenok,
    stop, alpha, dst FROM (
    SELECT doc_id,
      CAST(length(array_to_string(toks,'')) AS DOUBLE)/greatest(len(toks),1) AS ml,
      CAST(len(list_filter(toks, t -> list_contains($stopwordsSql, t)))
        AS DOUBLE)/greatest(len(toks),1) AS stop,
      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        /greatest(length(text),1) AS alpha,
      CAST(len(list_distinct(toks)) AS DOUBLE)/greatest(len(toks),1) AS dst
    FROM rtoks) i) o"""),
    "report_corpus" -> reportCorpusSql,
    // e19 streamed card: same oracle VERBATIM (segment merge ==
    // batch card by exact-integer associativity)
    "e19_stream_card_ingest" -> reportCorpusSql,
    // nbQualityClassifier mirrored: the t2 quality chain labels the
    // %3 seed at the 0.72 cut, (term, class) FILTER-aggregates build
    // the add-one model, and every probability's −ln is scaled to an
    // exact BIGINT before the per-document integer sums — ln runs on
    // the identical exact-quotient double both engines (t10 caveat)
    // bpeTrain mirrored: T16Rounds of (pair count over the distinct-
    // word frame → best pair by (cnt DESC, a, b) → greedy merge)
    // macro-expanded; the merge is the SAME plain string replace both
    // engines run on the |-wrapped symbol string, so left-to-right
    // non-overlap (incl. same-symbol run parity) needs no window logic
    "t16_bpe_train" -> dq(raw"""
SELECT CAST(r AS BIGINT) AS merge_round, lhs, rhs,
       lhs || rhs AS merged, cnt AS pair_count
FROM (${(1 to T16Rounds).map(r =>
      s"SELECT $r AS r, a AS lhs, b AS rhs, cnt FROM bb$r")
      .mkString("\n  UNION ALL ")}) mu""",
      extra = bpeCtes),
    // the forced-relational trainer regime shares the oracle verbatim
    // (regime bit-identity, the a6/g6/r3 pattern)
    "t16_bpe_train_dist" -> dq(raw"""
SELECT CAST(r AS BIGINT) AS merge_round, lhs, rhs,
       lhs || rhs AS merged, cnt AS pair_count
FROM (${(1 to T16Rounds).map(r =>
      s"SELECT $r AS r, a AS lhs, b AS rhs, cnt FROM bb$r")
      .mkString("\n  UNION ALL ")}) mu""",
      extra = bpeCtes),
    // bpeTokenize mirrored: the doc word stream inner-joins the round-
    // T16Rounds vocab (|-containing words fall out of both sides)
    // 448 merges over the trigram-derived vocab, every round
    // independently replayed in SQL (bpe448Sql — chunked unions +
    // DuckDB's binder-depth ceiling documented at Bpe448Rounds)
    "t16_bpe_train_448" -> bpe448Sql,
    "t16_bpe_tokenize" -> t16TokSql,
    // t16 served tokenizes from the PERSISTED vocab snapshot — the
    // trained frame is identical, so the cold lane's SQL pins it
    "t16_bpe_served" -> t16TokSql,
    "t15_nb_quality" -> t15Sql,
    // noveltyScore mirrored: d2's dsh shingles, df over the shingle
    // key, per-doc unique fraction rounded 4dp (the t2 convention)
    "t17_novelty" -> dq(raw"""
SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*), 4) AS novelty
FROM (SELECT doc_id, unnest(sh) AS s FROM dsh) e
JOIN (SELECT s, count(*) AS df
      FROM (SELECT doc_id, unnest(sh) AS s FROM dsh) u GROUP BY s) d
  USING (s)
GROUP BY e.doc_id"""),
    // the end-to-end curation pipeline: quality-filter → boilerplate
    // scrub → BPE retrain on curated text → pack, one statement
    "curate_corpus" -> curateSql,
    // e16 serves the SAME frozen model against the document stream —
    // scores are a pure (document, model) function, so the batch
    // classifier's SQL is the oracle verbatim (e10/e13/e15 precedent)
    "e16_stream_nb_score" -> t15Sql,
    "t3_lang_id" -> dq(raw"""
SELECT doc_id,
  CASE WHEN length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')) > 0
       THEN 'zh'
       WHEN s4 > 0.0 THEN b4 ELSE 'und' END AS lang
FROM f4""", extra = langFoldSql),
    "t4_fingerprints" -> dq(raw"""
SELECT doc_id,
  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
  list_min(list_transform(generate_series(0, greatest(len(toks)-8, 0)),
    i -> md5(array_to_string(toks[i+1:i+8], ' ')))) AS rolling_fp
FROM toks"""),
    // tfidf mirrors TextOps.tfidf: raw-case whitespace tokens (rtoks),
    // scaled-product round (Num.roundLike), same multiply order
    // (tf·ln first, ×10000 second)
    "t5_tfidf" -> dq(raw"""
SELECT tfq.doc_id, tfq.term, tfq.tf, dfq.df,
       floor(tfq.tf * ln(CAST(n_docs AS DOUBLE) / df) * 10000 + 0.5)
         / 10000 AS tfidf
FROM tfq JOIN dfq USING (term) CROSS JOIN nq""",
      extra = raw"""
tfq AS (SELECT doc_id, term, count(*) AS tf FROM
          (SELECT doc_id, unnest(toks) AS term FROM rtoks) u
        GROUP BY doc_id, term),
dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
nq AS (SELECT count(*) AS n_docs FROM documents)""".drop(1)),
    // repetition mirrors TextOps.repetition: the sh/dsh CTEs ARE the
    // Spark shingling (lowercased toks, sub-k docs → one shingle)
    "t6_repetition" -> dq(raw"""
SELECT s.doc_id, CAST(len(s.sh) AS BIGINT) AS n_shingles,
       CAST(len(d.sh) AS BIGINT) AS n_unique,
       floor((1.0 - CAST(len(d.sh) AS DOUBLE) / len(s.sh)) * 10000 + 0.5)
         / 10000 AS rep_ratio
FROM sh s JOIN dsh d USING (doc_id)"""),
    // sharedSubstring mirrored: per-doc DISTINCT 16-token window md5s,
    // stop-gram df cap (no-op at oracle SFs), pair count per (a, b)
    "d6_shared_substring" -> dq(raw"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM fw a JOIN fw b ON a.wh = b.wh AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id""",
      extra = raw"""
wins0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(0, len(toks) - 16),
           i -> md5(array_to_string(toks[i+1:i+16], ' '))))) AS wh
         FROM toks WHERE len(toks) >= 16),
wins AS (SELECT DISTINCT doc_id, wh FROM wins0),
wdf AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) <= 1000),
fw AS (SELECT w.doc_id, w.wh FROM wins w JOIN wdf USING (wh))""".drop(1)),
    // stratifiedSample mirrored: identical md5-hex → 48-bit uniform
    // arithmetic (exactly-dyadic /2^48), same band cuts and rates
    // leakSafeSplit mirrored: d7's cluster closure feeds the split key
    // (cluster comp if clustered, own id otherwise), then the p1 hash
    // arithmetic; the split CASE compares the RAW dyadic u in both
    // engines, u is rounded only for display
    "p5_leak_safe_split" ->
      (s"WITH RECURSIVE $docCtes,$lshCandCtes," + raw"""
jpairs AS (SELECT c.doc_a, c.doc_b
  FROM cands c JOIN dsh a ON c.doc_a = a.doc_id
  JOIN dsh b ON c.doc_b = b.doc_id
  WHERE $jaccardSql >= 0.5),
dedges AS (SELECT lpad(CAST(doc_a AS VARCHAR), 20, '0') AS src,
                  lpad(CAST(doc_b AS VARCHAR), 20, '0') AS dst FROM jpairs),
ddsym AS (SELECT src, dst FROM dedges UNION ALL SELECT dst, src FROM dedges),
ddnodes AS (SELECT DISTINCT src AS id FROM ddsym),
ddclos AS (SELECT id, id AS reach FROM ddnodes
  UNION
  SELECT c.id, e.dst FROM ddclos c JOIN ddsym e ON c.reach = e.src),
ddcomp AS (SELECT id, min(reach) AS comp FROM ddclos GROUP BY id),
skeys AS (SELECT t.doc_id,
    coalesce(CAST(c.comp AS BIGINT), t.doc_id) AS split_key
  FROM documents t LEFT JOIN ddcomp c
    ON lpad(CAST(t.doc_id AS VARCHAR), 20, '0') = c.id),
su AS (SELECT doc_id, split_key,
    CAST(CAST('0x' || substr(md5(split_key || ':p5'), 1, 12) AS BIGINT)
      AS DOUBLE) / 281474976710656 AS uu
  FROM skeys)
SELECT doc_id, split_key, floor(uu * 1000000 + 0.5) / 1000000 AS u,
  CASE WHEN uu < 0.1 THEN 'test' WHEN uu < 0.2 THEN 'val'
       ELSE 'train' END AS split
FROM su"""),
    // the streaming sampling admission emits the same order-independent
    // row set as batch stratifiedSample — identical oracle to p1
    "e8_stream_sample" -> dq(raw"""
SELECT doc_id, n_tokens, stratum, floor(u * 1000000 + 0.5) / 1000000 AS u
FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        CASE WHEN len(toks) < 35 THEN 'short'
             WHEN len(toks) < 50 THEN 'medium' ELSE 'long' END AS stratum,
        CAST(CAST('0x' || substr(md5(doc_id || ':p1'), 1, 12) AS BIGINT)
          AS DOUBLE) / 281474976710656 AS u
      FROM toks) t
WHERE u < CASE stratum WHEN 'short' THEN 0.25
                       WHEN 'medium' THEN 0.5 ELSE 1.0 END"""),
    // dsirWeights mirrored: same md5-prefix → 48-bit → %1024 bucket
    // hash, add-one-smoothed target/raw bucket counts, each λ a SIGNED
    // 6-dp fixed-point BIGINT (floor(λ·1e6+0.5) — round half toward
    // +∞, identical in both engines), per-doc sums exact integer
    // arithmetic; ln runs on the identical two-product/one-division
    // double chain (tfidf-class 1-ulp caveat)
    "p6_dsir_weights" -> dq(raw"""
SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
  round(CAST(sum(l.lam) AS DOUBLE) / 1e6, 6) AS log_weight,
  sum(l.lam) > 0 AS keep
FROM bkt b JOIN lam l USING (bucket)
GROUP BY b.doc_id""",
      extra = raw"""
dstoks AS (SELECT doc_id, source,
  list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')
    AS toks
  FROM documents),
dsbg AS (SELECT doc_id, source,
  unnest(list_transform(generate_series(1, len(toks)-1),
    i -> toks[i] || ' ' || toks[i+1])) AS gram
  FROM dstoks WHERE len(toks) >= 2),
bkt AS (SELECT doc_id, source,
  CAST('0x' || substr(md5(gram), 1, 12) AS BIGINT) % 1024 AS bucket
  FROM dsbg),
cnt AS (SELECT bucket,
  CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
  CAST(count(*) AS BIGINT) AS cr
  FROM bkt GROUP BY bucket),
tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
               CAST(sum(cr) AS BIGINT) AS nr FROM cnt),
lam AS (SELECT bucket,
  CAST(floor(ln((CAST(ct + 1 AS DOUBLE) * CAST(nr + 1024 AS DOUBLE)) /
                (CAST(cr + 1 AS DOUBLE) * CAST(nt + 1024 AS DOUBLE)))
             * 1e6 + 0.5) AS BIGINT) AS lam
  FROM cnt, tot)""".drop(1)),
    "p1_stratified_sample" -> dq(raw"""
SELECT doc_id, n_tokens, stratum, floor(u * 1000000 + 0.5) / 1000000 AS u
FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        CASE WHEN len(toks) < 35 THEN 'short'
             WHEN len(toks) < 50 THEN 'medium' ELSE 'long' END AS stratum,
        CAST(CAST('0x' || substr(md5(doc_id || ':p1'), 1, 12) AS BIGINT)
          AS DOUBLE) / 281474976710656 AS u
      FROM toks) t
WHERE u < CASE stratum WHEN 'short' THEN 0.25
                       WHEN 'medium' THEN 0.5 ELSE 1.0 END"""),
    // weightedSample mirrored: the same md5 uniform (+1 over 2^48+1),
    // -ln(u)/greatest(w,1) rounded at 9 dp (floor(x*1e9+0.5) — the
    // positive-branch roundLike), n smallest with id tie-breaks
    "p12_weighted_sample" -> raw"""
SELECT doc_id, n_chars AS weight,
       floor(-ln((CAST(CAST('0x' || substr(md5(doc_id || ':p12'), 1, 12)
                  AS BIGINT) AS DOUBLE) + 1) / 281474976710657)
             / greatest(n_chars, 1) * 1000000000 + 0.5) / 1000000000
         AS priority
FROM documents
ORDER BY priority, doc_id LIMIT 50""",
    // lengthQuartiles mirrored: quantile_cont IS the type-7 estimator
    // functions.percentile implements; dyadic fractions → identical
    // cut points
    "p2_length_quartiles" -> dq(raw"""
SELECT doc_id, n_tokens,
  CASE WHEN n_tokens <= q1 THEN 'q1' WHEN n_tokens <= q2 THEN 'q2'
       WHEN n_tokens <= q3 THEN 'q3' ELSE 'q4' END AS bucket
FROM lens, qsx""",
      extra = raw"""
lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM toks),
qsx AS (SELECT quantile_cont(n_tokens, 0.25) AS q1,
               quantile_cont(n_tokens, 0.5) AS q2,
               quantile_cont(n_tokens, 0.75) AS q3 FROM lens)""".drop(1)),
    // mixtureWeights mirrored: exact integer sums (order-independent);
    // share and the √-temperature weight are chains of correctly-
    // rounded IEEE ops on exact integers — no float accumulation
    "p3_mixture_weights" -> dq(raw"""
SELECT source, n_docs, n_tokens,
  round(CAST(n_tokens AS DOUBLE) / total, 6) AS share,
  round(sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(CAST(mx AS DOUBLE)), 6)
    AS temp_weight
FROM per, ptot""",
      extra = raw"""
ptoks AS (SELECT source, len(list_filter(string_split_regex(
            trim(lower(text)), '\s+'), t -> t <> '')) AS nt
          FROM documents),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(nt) AS BIGINT) AS n_tokens FROM ptoks GROUP BY source),
ptot AS (SELECT sum(n_tokens) AS total, max(n_tokens) AS mx FROM per)"""
        .drop(1)),
    // p9: the shard is the first 12 md5 hex digits of id:salt mod
    // nShards, the position the per-shard rank of the full md5 key —
    // mirrors Sampling.shardShuffle literal for literal
    "p9_shard_shuffle" -> raw"""
WITH b AS (SELECT doc_id,
    md5(CAST(doc_id AS VARCHAR)||':p9') AS k,
    CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':p9'),1,12) AS BIGINT)
      % 8 AS shard
  FROM documents)
SELECT doc_id, shard,
  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) - 1
    AS BIGINT) AS pos
FROM b""",
    // p10: replays p3's per/ptot weight aggregation, rescales ×2.5,
    // then floor(w) + (u < frac) copies per doc with the p1-style
    // 48-bit keyed uniform — identical IEEE doubles in both engines
    "p10_epoch_upsample" -> dq(raw"""
SELECT doc_id, "group", CAST(unnest(generate_series(0, n_copies - 1))
    AS BIGINT) AS copy_idx, n_copies
FROM ucnt WHERE n_copies > 0""",
      extra = raw"""
ptoks AS (SELECT source, len(list_filter(string_split_regex(
            trim(lower(text)), '\s+'), t -> t <> '')) AS nt
          FROM documents),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(nt) AS BIGINT) AS n_tokens FROM ptoks GROUP BY source),
ptot AS (SELECT sum(n_tokens) AS total, max(n_tokens) AS mx FROM per),
wgt AS (SELECT source,
    round(sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(CAST(mx AS DOUBLE)), 6)
      * 2.5 AS w
  FROM per, ptot),
ubase AS (SELECT d.doc_id, d.source AS "group", g.w,
    CAST('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)||':p10'),1,12)
      AS BIGINT) / 281474976710656.0 AS u
  FROM documents d JOIN wgt g ON g.source = d.source),
ucnt AS (SELECT doc_id, "group",
    CAST(floor(w) AS BIGINT)
      + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS n_copies
  FROM ubase)""".drop(1)),
    // v2: refresh ≡ rebuild — the oracle bands the WHOLE refreshed
    // snapshot (the engine touched only the delta); same chain as e15
    "v2_index_refresh" -> (raw"""
WITH vnew AS (SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN text||' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 11 <> 0),
toksV AS (SELECT doc_id,
  list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')
    AS toks FROM vnew),
""" + bandChainCtes("toksV") + raw"""
SELECT doc_id, CAST(t.b AS BIGINT) AS band,
       md5(array_to_string(sig[t.b*4+1:t.b*4+4], '|')) AS band_hash
FROM sigE, (SELECT unnest([0,1,2,3]) AS b) t"""),
    // v1: snapshot diff over the %7/%11/%5 fixture split — status from
    // hash presence/inequality exactly as Versioning.corpusDiff
    "v1_corpus_diff" -> raw"""
WITH oldv AS (SELECT doc_id, md5(text) AS old_hash FROM documents
    WHERE doc_id % 7 <> 3),
newv AS (SELECT doc_id,
    md5(CASE WHEN doc_id % 5 = 0 THEN text||' v2' ELSE text END)
      AS new_hash
  FROM documents WHERE doc_id % 11 <> 0),
dv AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
    CASE WHEN o.old_hash IS NULL THEN 'added'
         WHEN n.new_hash IS NULL THEN 'removed'
         WHEN o.old_hash <> n.new_hash THEN 'changed'
         ELSE 'same' END AS status,
    o.old_hash, n.new_hash
  FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id)
SELECT doc_id, status, old_hash, new_hash FROM dv
WHERE status <> 'same'""",
    // piiScrub mirrored: same planted PII construction, same
    // Java/RE2-identical patterns, same email → IP → phone sequential
    // count-then-replace composition
    "t7_pii_scrub" -> dq(raw"""
SELECT doc_id, n_emails, n_ips,
  CAST(len(regexp_extract_all(t2, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT)
    AS n_phones,
  regexp_replace(t2, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS clean
FROM ps2""",
      extra = raw"""
pii AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
    || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com via 10.'
    || CAST(doc_id % 256 AS VARCHAR) || '.0.'
    || CAST((doc_id * 7) % 256 AS VARCHAR)
    || CASE WHEN doc_id % 3 = 0 THEN ' call 555-867-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
    AS text FROM documents),
ps1 AS (SELECT doc_id,
    CAST(len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
      AS n_emails,
    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      '<EMAIL>', 'g') AS t1 FROM pii),
ps2 AS (SELECT doc_id, n_emails,
    CAST(len(regexp_extract_all(t1,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
    regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
      '<IP>', 'g') AS t2 FROM ps1)""".drop(1)),
    // decontaminate mirrored: 5-token grams (whole text below 5 tokens),
    // per-doc distinct, 64-bit md5-prefix keys, bench = doc_id ≡ 0 (37)
    "t8_decontaminate" -> dq(raw"""
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
  CAST(count(b.gh) AS BIGINT) AS n_contaminated,
  count(b.gh) > 0 AS contaminated
FROM uh t LEFT JOIN bh b USING (gh)
WHERE t.doc_id % 37 <> 0 GROUP BY t.doc_id""",
      extra = raw"""
g5 AS (SELECT doc_id, CASE WHEN len(toks) < 5
         THEN [array_to_string(toks, ' ')]
         ELSE list_transform(generate_series(0, len(toks)-5),
                i -> array_to_string(toks[i+1:i+5], ' ')) END AS g
       FROM toks),
ug AS (SELECT doc_id, unnest(list_distinct(g)) AS gram FROM g5),
uh AS (SELECT doc_id, substr(md5(gram), 1, 16) AS gh FROM ug),
bh AS (SELECT DISTINCT gh FROM uh WHERE doc_id % 37 = 0)""".drop(1)),
    // the streaming decontamination emits the same order-independent
    // per-doc overlap rows as batch t8 — identical oracle
    "e7_stream_decontaminate" -> dq(raw"""
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
  CAST(count(b.gh) AS BIGINT) AS n_contaminated,
  count(b.gh) > 0 AS contaminated
FROM uh t LEFT JOIN bh b USING (gh)
WHERE t.doc_id % 37 <> 0 GROUP BY t.doc_id""",
      extra = raw"""
g5 AS (SELECT doc_id, CASE WHEN len(toks) < 5
         THEN [array_to_string(toks, ' ')]
         ELSE list_transform(generate_series(0, len(toks)-5),
                i -> array_to_string(toks[i+1:i+5], ' ')) END AS g
       FROM toks),
ug AS (SELECT doc_id, unnest(list_distinct(g)) AS gram FROM g5),
uh AS (SELECT doc_id, substr(md5(gram), 1, 16) AS gh FROM ug),
bh AS (SELECT DISTINCT gh FROM uh WHERE doc_id % 37 = 0)""".drop(1)),
    // bloomDecontaminate mirrored: same 5-gram construction as t8,
    // same (h1,h2) md5-prefix pair, same KM double-hashed positions
    // mod 2^20, 32 bits packed per BIGINT word (bit 31 max — DuckDB
    // refuses 1<<63), bit_or packing and &-probe — the filter is pure
    // integer arithmetic, so the false positives match too
    "t13_bloom_decontaminate" -> dq(raw"""
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
  CAST(count(e.h1) AS BIGINT) AS n_exact,
  CAST(sum(CASE WHEN g.nset = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
  sum(CASE WHEN g.nset = 5 THEN 1 ELSE 0 END) > 0 AS contaminated_bloom,
  sum(CASE WHEN g.nset = 5 THEN 1 ELSE 0 END) >= count(e.h1)
    AS bloom_consistent
FROM ghit g LEFT JOIN bex e ON e.h1 = g.h1 AND e.h2 = g.h2
GROUP BY g.doc_id""",
      extra = raw"""
bl5 AS (SELECT doc_id, CASE WHEN len(toks) < 5
         THEN [array_to_string(toks, ' ')]
         ELSE list_transform(generate_series(0, len(toks)-5),
                i -> array_to_string(toks[i+1:i+5], ' ')) END AS g
       FROM toks),
blg AS (SELECT doc_id, unnest(list_distinct(g)) AS gram FROM bl5),
blh AS (SELECT doc_id,
    CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS h1,
    CAST('0x' || substr(md5(gram), 16, 15) AS BIGINT) AS h2 FROM blg),
blpos AS (SELECT doc_id, h1, h2,
    (h1 + jj.j * h2) % 1048576 AS pos
  FROM blh, (SELECT unnest(generate_series(0, 4)) AS j) jj),
bwords AS (SELECT pos // 32 AS word,
    bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
  FROM blpos WHERE doc_id % 37 = 0 GROUP BY 1),
ghit AS (SELECT p.doc_id, p.h1, p.h2,
    sum(CASE WHEN coalesce(w.bits, 0::BIGINT) &
          (1::BIGINT << CAST(p.pos % 32 AS INT)) <> 0
        THEN 1 ELSE 0 END) AS nset
  FROM blpos p LEFT JOIN bwords w ON w.word = p.pos // 32
  WHERE p.doc_id % 37 <> 0 GROUP BY 1, 2, 3),
bex AS (SELECT DISTINCT h1, h2 FROM blh WHERE doc_id % 37 = 0)"""
        .drop(1)),
    // bigramCounts mirrored: same lowercased whitespace tokens, exact
    // integer count division rounded at 6 dp
    "t9_bigram_lm" -> dq(raw"""
SELECT b.w1, b.w2, b.n, round(CAST(b.n AS DOUBLE) / np, 6) AS p_cond
FROM bcnt b JOIN pcnt USING (w1)""",
      extra = raw"""
bgrams AS (SELECT unnest(list_transform(generate_series(1, len(toks)-1),
    i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS bg
  FROM toks WHERE len(toks) >= 2),
bcnt AS (SELECT bg.w1 AS w1, bg.w2 AS w2, CAST(count(*) AS BIGINT) AS n
  FROM bgrams GROUP BY 1, 2),
pcnt AS (SELECT w1, CAST(sum(n) AS BIGINT) AS np FROM bcnt GROUP BY 1)"""
        .drop(1)),
    // lmCrossEntropy mirrored: each bigram's −ln p term is a 6-dp
    // fixed-point LONG (−ln p ≥ 0), per-document sums are exact
    // integer arithmetic, only the final mean rounds for display —
    // the one transcendental (ln) runs on the identical exact-quotient
    // double on both engines (tfidf-class 1-ulp caveat)
    "t10_lm_crossentropy" -> dq(raw"""
SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(l.nll) AS DOUBLE) / (count(*) * 1e6), 4)
         AS cross_entropy
FROM dbg d JOIN nll l ON l.w1 = d.w1 AND l.w2 = d.w2
GROUP BY d.doc_id""",
      extra = raw"""
dbg AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2
  FROM (SELECT doc_id,
          unnest(list_transform(generate_series(1, len(toks)-1),
            i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS bg
        FROM toks WHERE len(toks) >= 2) u),
bcnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
  FROM dbg GROUP BY 1, 2),
pcnt AS (SELECT w1, CAST(sum(n) AS BIGINT) AS np FROM bcnt GROUP BY 1),
nll AS (SELECT b.w1, b.w2,
    CAST(floor(-ln(CAST(b.n AS DOUBLE) / p.np) * 1e6 + 0.5) AS BIGINT)
      AS nll
  FROM bcnt b JOIN pcnt p ON p.w1 = b.w1)""".drop(1)),
    // perplexityBuckets mirrored: t10's exact fixed-point cross-entropy
    // CTE chain + quantile_cont at DYADIC fractions (type-7, identical
    // interpolation arithmetic both engines — the p2 argument)
    "t12_perplexity_buckets" -> dq(raw"""
SELECT doc_id, n_bigrams, cross_entropy,
  CASE WHEN cross_entropy <= q1 THEN 'head'
       WHEN cross_entropy <= q3 THEN 'middle'
       ELSE 'tail' END AS bucket
FROM ces, ceq""",
      extra = raw"""
dbg AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2
  FROM (SELECT doc_id,
          unnest(list_transform(generate_series(1, len(toks)-1),
            i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS bg
        FROM toks WHERE len(toks) >= 2) u),
bcnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
  FROM dbg GROUP BY 1, 2),
pcnt AS (SELECT w1, CAST(sum(n) AS BIGINT) AS np FROM bcnt GROUP BY 1),
nll AS (SELECT b.w1, b.w2,
    CAST(floor(-ln(CAST(b.n AS DOUBLE) / p.np) * 1e6 + 0.5) AS BIGINT)
      AS nll
  FROM bcnt b JOIN pcnt p ON p.w1 = b.w1),
ces AS (SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
    round(CAST(sum(l.nll) AS DOUBLE) / (count(*) * 1e6), 4)
      AS cross_entropy
  FROM dbg d JOIN nll l ON l.w1 = d.w1 AND l.w2 = d.w2
  GROUP BY d.doc_id),
ceq AS (SELECT quantile_cont(cross_entropy, 0.25) AS q1,
               quantile_cont(cross_entropy, 0.75) AS q3 FROM ces)"""
        .drop(1)),
    // packSequences mirrored: exact integer window sums per shard,
    // integer div/mod for the pack slot — exact for any budget
    // p8 chunking: window starts every stride=96 raw tokens, slices
    // clamp at the doc tail (both engines' slicing clamps), chunk text
    // re-joins with single spaces — mirrors Sampling.chunkDocs
    "p8_chunk_docs" -> dq(raw"""
SELECT p.doc_id, CAST(p.s // 96 AS BIGINT) AS chunk_idx,
       CAST(len(r.toks[p.s + 1 : p.s + 128]) AS BIGINT) AS n_tokens,
       array_to_string(r.toks[p.s + 1 : p.s + 128], ' ') AS chunk_text
FROM pc p JOIN rtoks r USING (doc_id)""",
      extra = raw"""
pc AS (SELECT doc_id,
    unnest(generate_series(0, len(toks) - 1, 96)) AS s
  FROM rtoks WHERE len(toks) > 0)""".drop(1)),
    "p4_pack_sequences" -> dq(raw"""
SELECT doc_id, shard, n_tokens,
  strt // 512 AS pack_id,
  strt % 512 AS pack_offset
FROM (SELECT doc_id, shard, n_tokens,
        CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          - n_tokens AS strt
      FROM (SELECT doc_id, doc_id % 8 AS shard,
              CAST(len(toks) AS BIGINT) AS n_tokens FROM toks) l) c"""),
    // bpePack mirrored: p4's shard prefix-sum window fed by the t16
    // BPE token counts (the composed train-tokenizer → tokenize →
    // pack pipeline, one seam-free oracle)
    "p11_bpe_pack" -> dq(raw"""
SELECT doc_id, shard, n_bpe_tokens,
  strt // 512 AS pack_id,
  strt % 512 AS pack_offset
FROM (SELECT doc_id, shard, n_bpe_tokens,
        CAST(sum(n_bpe_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          - n_bpe_tokens AS strt
      FROM (SELECT doc_id, doc_id % 8 AS shard, n_bpe_tokens
            FROM bptok) l) c""",
      extra = bpeCtes + raw""",
bptok AS (SELECT dw.doc_id, CAST(sum(len(string_split(
    w.wstr[2:length(w.wstr)-1], '||'))) AS BIGINT) AS n_bpe_tokens
  FROM (SELECT doc_id, unnest(toks) AS word FROM toks) dw
  JOIN bw${T16Rounds + 1} w USING (word)
  GROUP BY dw.doc_id)"""))

  // ------------------------------------------------- embeddings oracles
  private val embCtes: String = raw"""
dims AS (SELECT unnest(generate_series(1,64)) AS i),
vexp AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, dims),
norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM vexp GROUP BY vec_id)"""

  private def eq(body: String, extra: String = ""): String =
    s"WITH $embCtes${if (extra.nonEmpty) "," + extra else ""}\n$body"

  /** ivfTopKFiltered mirrored (shared by the cold s13_filtered_ivf and
    * the snapshot-served s13_filtered_served — a reopened index must
    * be row-identical to the fresh assignment): s2's coarse chain,
    * candidates restricted to the probe's OWN label via the
    * (centroid, label) pre-filter join — nProbe=2, probes vec_id < 5,
    * exactly the engine lanes. */
  private val s13FilteredSql: String = eq(raw"""
SELECT probe_id, CAST(rank AS BIGINT) AS rank, corpus_id,
       round(cosine, 6) AS cosine
FROM (SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY round(cosine, 6) DESC, corpus_id) AS rank
      FROM scored2) r
WHERE rank <= 10""",
      extra = raw"""
lab AS (SELECT vec_id, label FROM embeddings),
cb AS (SELECT vec_id AS centroid_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
cdot AS (SELECT v.vec_id, c.centroid_id, sum(v.x * cv.x) AS dot
  FROM vexp v JOIN cb c ON true
  JOIN vexp cv ON cv.vec_id = c.centroid_id AND cv.i = v.i
  GROUP BY v.vec_id, c.centroid_id),
csim AS (SELECT cdot.vec_id, cdot.centroid_id,
    cdot.dot/(nv.nrm*nc.nrm) AS sim
  FROM cdot JOIN norms nv ON nv.vec_id = cdot.vec_id
  JOIN norms nc ON nc.vec_id = cdot.centroid_id),
assigned AS (SELECT vec_id, centroid_id FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY round(sim, 6) DESC, centroid_id) AS rn FROM csim) t
  WHERE rn = 1),
pbuckets AS (SELECT vec_id AS probe_id, centroid_id FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY round(sim, 6) DESC, centroid_id) AS rn
  FROM csim WHERE vec_id < 5) t WHERE rn <= 2),
cand AS (SELECT pb.probe_id, a.vec_id AS corpus_id
  FROM pbuckets pb JOIN assigned a ON a.centroid_id = pb.centroid_id
  JOIN lab la ON la.vec_id = a.vec_id
  JOIN lab lp ON lp.vec_id = pb.probe_id AND la.label = lp.label
  WHERE a.vec_id <> pb.probe_id),
cdots2 AS (SELECT c.probe_id, c.corpus_id, sum(pa.x*pb.x) AS dot
  FROM cand c JOIN vexp pa ON pa.vec_id = c.probe_id
  JOIN vexp pb ON pb.vec_id = c.corpus_id AND pb.i = pa.i
  GROUP BY c.probe_id, c.corpus_id),
scored2 AS (SELECT cdots2.probe_id, cdots2.corpus_id,
    cdots2.dot/(na.nrm*nb.nrm) AS cosine
  FROM cdots2 JOIN norms na ON na.vec_id = cdots2.probe_id
  JOIN norms nb ON nb.vec_id = cdots2.corpus_id)""".drop(1))

  val embeddings: Map[String, String] = Map(
    // candidate scoring via list_dot_product on the raw arrays (cast to
    // DOUBLE — float32 list math would wobble the 6-dp hash): the old
    // per-dimension join multiplied |cpairs| by 64 exploded rows, the
    // sf1 oracle OOM; this is one hash-join probe + one list op per pair
    "d5_embedding_neardups" -> eq(raw"""
SELECT id_a, id_b, round(dd.dot/(na.nrm*nb.nrm), 6) AS cosine
FROM (SELECT p.id_a, p.id_b,
        list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                         CAST(eb.embedding AS DOUBLE[])) AS dot
      FROM cpairs p
      JOIN embeddings ea ON ea.vec_id = p.id_a
      JOIN embeddings eb ON eb.vec_id = p.id_b) dd
JOIN norms na ON na.vec_id = dd.id_a JOIN norms nb ON nb.vec_id = dd.id_b
WHERE round(dd.dot/(na.nrm*nb.nrm), 6) >= 0.3""",
      extra = raw"""
bq AS (SELECT greatest(4, CAST(length(bin((count(*) + 124) // 125 - 1))
    AS INT)) AS bits
  FROM embeddings),
coefs AS (SELECT tb.b, tj.j, td.d,
  CASE WHEN strpos('01234567', substr(md5(tb.b||':'||tj.j||':'||td.d), 1, 1)) > 0
       THEN 1.0 ELSE -1.0 END AS c
  FROM (SELECT unnest([0,1,2,3]) AS b) tb,
       (SELECT unnest(generate_series(0,
          (SELECT bits FROM bq) - 1)) AS j) tj,
       (SELECT unnest(generate_series(0,63)) AS d) td),
lkeys AS (SELECT vec_id, b AS band,
  string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS key
  FROM (SELECT v.vec_id, c.b, c.j, sum(c.c * v.x) AS dot
        FROM vexp v JOIN coefs c ON c.d = v.i - 1
        GROUP BY v.vec_id, c.b, c.j) t
  GROUP BY vec_id, b),
cpairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM lkeys a JOIN lkeys b
  ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)""".drop(1)),
    // sq8TopK mirrored: per-dim (lo, span) range, the same
    // floor((x−lo)/span·255 + 0.5) clamped code expression (exact
    // integer output of one IEEE double expression — no fixed point
    // needed), reconstruction c·span/255 + lo, approximate cosine of
    // raw probe vs reconstruction ranks the 40-deep pool, exact cosine
    // re-ranks the final 10; both ranks on round(·, 6) with id tiebreak
    "s5_sq8_rerank" -> eq(raw"""
SELECT probe_id, CAST(rank AS BIGINT) AS rank, corpus_id,
       round(cosine, 6) AS cosine
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
        ORDER BY round(cosine, 6) DESC, corpus_id) AS rank FROM ex) r
WHERE rank <= 10""",
      extra = raw"""
rng AS (SELECT i, min(x) AS lo, max(x) - min(x) AS span
  FROM vexp GROUP BY i),
codes AS (SELECT v.vec_id, v.i, r.lo, r.span,
    CASE WHEN r.span > 0 THEN least(greatest(
      floor((v.x - r.lo) / r.span * 255 + 0.5), 0), 255)
    ELSE 0 END AS c
  FROM vexp v JOIN rng r USING (i)),
rec AS (SELECT vec_id, i, c * span / 255.0 + lo AS rx FROM codes),
recn AS (SELECT vec_id, sqrt(sum(rx * rx)) AS nrm FROM rec GROUP BY vec_id),
cand AS (SELECT probe_id, corpus_id, row_number() OVER (
      PARTITION BY probe_id ORDER BY round(approx, 6) DESC, corpus_id)
      AS arn
  FROM (SELECT p.vec_id AS probe_id, r.vec_id AS corpus_id,
          sum(p.x * r.rx) / (pn.nrm * rn.nrm) AS approx
        FROM vexp p JOIN rec r ON p.i = r.i AND r.vec_id <> p.vec_id
        JOIN norms pn ON pn.vec_id = p.vec_id
        JOIN recn rn ON rn.vec_id = r.vec_id
        WHERE p.vec_id < 5
        GROUP BY p.vec_id, r.vec_id, pn.nrm, rn.nrm) t),
ex AS (SELECT c.probe_id, c.corpus_id,
    list_dot_product(CAST(pa.embedding AS DOUBLE[]),
                     CAST(pb.embedding AS DOUBLE[])) / (na.nrm * nb.nrm)
      AS cosine
  FROM cand c
  JOIN embeddings pa ON pa.vec_id = c.probe_id
  JOIN embeddings pb ON pb.vec_id = c.corpus_id
  JOIN norms na ON na.vec_id = c.probe_id
  JOIN norms nb ON nb.vec_id = c.corpus_id
  WHERE c.arn <= 40)""".drop(1)),
    // sq8Recall mirrored: the s5 pipeline (20 probes) vs the exact
    // scan, counted into the one certificate row; TRUE pins the target
    "s5_sq8_recall" -> eq(raw"""
SELECT CAST(hits AS BIGINT) AS n_matched, CAST(tot AS BIGINT) AS n_total,
       round(CAST(hits AS DOUBLE) / tot, 6) AS recall,
       CAST(hits AS DOUBLE) / tot >= 0.9 AS meets_target
FROM (SELECT count(s.corpus_id) AS hits, count(*) AS tot
      FROM bftop b LEFT JOIN sqtop s
        ON s.probe_id = b.probe_id AND s.corpus_id = b.corpus_id) t""",
      extra = raw"""
rng AS (SELECT i, min(x) AS lo, max(x) - min(x) AS span
  FROM vexp GROUP BY i),
codes AS (SELECT v.vec_id, v.i, r.lo, r.span,
    CASE WHEN r.span > 0 THEN least(greatest(
      floor((v.x - r.lo) / r.span * 255 + 0.5), 0), 255)
    ELSE 0 END AS c
  FROM vexp v JOIN rng r USING (i)),
rec AS (SELECT vec_id, i, c * span / 255.0 + lo AS rx FROM codes),
recn AS (SELECT vec_id, sqrt(sum(rx * rx)) AS nrm FROM rec GROUP BY vec_id),
cand AS (SELECT probe_id, corpus_id, row_number() OVER (
      PARTITION BY probe_id ORDER BY round(approx, 6) DESC, corpus_id)
      AS arn
  FROM (SELECT p.vec_id AS probe_id, r.vec_id AS corpus_id,
          sum(p.x * r.rx) / (pn.nrm * rn.nrm) AS approx
        FROM vexp p JOIN rec r ON p.i = r.i AND r.vec_id <> p.vec_id
        JOIN norms pn ON pn.vec_id = p.vec_id
        JOIN recn rn ON rn.vec_id = r.vec_id
        WHERE p.vec_id < 20
        GROUP BY p.vec_id, r.vec_id, pn.nrm, rn.nrm) t),
ex AS (SELECT c.probe_id, c.corpus_id,
    list_dot_product(CAST(pa.embedding AS DOUBLE[]),
                     CAST(pb.embedding AS DOUBLE[])) / (na.nrm * nb.nrm)
      AS cosine
  FROM cand c
  JOIN embeddings pa ON pa.vec_id = c.probe_id
  JOIN embeddings pb ON pb.vec_id = c.corpus_id
  JOIN norms na ON na.vec_id = c.probe_id
  JOIN norms nb ON nb.vec_id = c.corpus_id
  WHERE c.arn <= 40),
sqtop AS (SELECT probe_id, corpus_id FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
    ORDER BY round(cosine, 6) DESC, corpus_id) AS rank FROM ex) r
  WHERE rank <= 10),
bfd AS (SELECT a.vec_id AS probe_id, b.vec_id AS corpus_id,
    sum(a.x * b.x) AS dot
  FROM vexp a JOIN vexp b ON a.i = b.i
  WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id
  GROUP BY a.vec_id, b.vec_id),
bftop AS (SELECT probe_id, corpus_id FROM (
  SELECT dd.probe_id, dd.corpus_id, row_number() OVER (
      PARTITION BY dd.probe_id
      ORDER BY round(dd.dot/(na.nrm*nb.nrm), 6) DESC, dd.corpus_id)
      AS rank
  FROM bfd dd
  JOIN norms na ON na.vec_id = dd.probe_id
  JOIN norms nb ON nb.vec_id = dd.corpus_id) r
  WHERE rank <= 10)""".drop(1)),
    "s1_similarity_bruteforce" -> eq(raw"""
SELECT probe_id, CAST(rank AS BIGINT) AS rank, corpus_id,
       round(cosine, 6) AS cosine
FROM (SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY round(cosine, 6) DESC, corpus_id) AS rank
      FROM (SELECT dd.probe_id, dd.corpus_id,
              dd.dot/(na.nrm*nb.nrm) AS cosine
            FROM (SELECT a.vec_id AS probe_id, b.vec_id AS corpus_id,
                    sum(a.x*b.x) AS dot
                  FROM vexp a JOIN vexp b ON a.i = b.i
                  WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id
                  GROUP BY a.vec_id, b.vec_id) dd
            JOIN norms na ON na.vec_id = dd.probe_id
            JOIN norms nb ON nb.vec_id = dd.corpus_id) s) r
WHERE rank <= 10"""),
    // ivfSq8TopK mirrored: s2's coarse assignment/bucket pruning CTEs
    // (nProbe=4) + s5's SQ8 range/code/reconstruction arithmetic; the
    // approximate rank runs only inside the probe's buckets, the exact
    // re-rank only over the 40-deep pool
    "s6_ivfsq8_rerank" -> eq(raw"""
SELECT probe_id, CAST(rank AS BIGINT) AS rank, corpus_id,
       round(cosine, 6) AS cosine
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
        ORDER BY round(cosine, 6) DESC, corpus_id) AS rank FROM ex) r
WHERE rank <= 10""",
      extra = raw"""
cb AS (SELECT vec_id AS centroid_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
cdot AS (SELECT v.vec_id, c.centroid_id, sum(v.x * cv.x) AS dot
  FROM vexp v JOIN cb c ON true
  JOIN vexp cv ON cv.vec_id = c.centroid_id AND cv.i = v.i
  GROUP BY v.vec_id, c.centroid_id),
csim AS (SELECT cdot.vec_id, cdot.centroid_id,
    cdot.dot/(nv.nrm*nc.nrm) AS sim
  FROM cdot JOIN norms nv ON nv.vec_id = cdot.vec_id
  JOIN norms nc ON nc.vec_id = cdot.centroid_id),
assigned AS (SELECT vec_id, centroid_id FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY round(sim, 6) DESC, centroid_id) AS rn
  FROM csim) t WHERE rn = 1),
pbuckets AS (SELECT vec_id AS probe_id, centroid_id FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY round(sim, 6) DESC, centroid_id) AS rn
  FROM csim WHERE vec_id < 5) t WHERE rn <= 4),
rng AS (SELECT i, min(x) AS lo, max(x) - min(x) AS span
  FROM vexp GROUP BY i),
codes AS (SELECT v.vec_id, v.i, r.lo, r.span,
    CASE WHEN r.span > 0 THEN least(greatest(
      floor((v.x - r.lo) / r.span * 255 + 0.5), 0), 255)
    ELSE 0 END AS c
  FROM vexp v JOIN rng r USING (i)),
rec AS (SELECT vec_id, i, c * span / 255.0 + lo AS rx FROM codes),
recn AS (SELECT vec_id, sqrt(sum(rx * rx)) AS nrm FROM rec GROUP BY vec_id),
scand AS (SELECT probe_id, corpus_id, row_number() OVER (
      PARTITION BY probe_id ORDER BY round(approx, 6) DESC, corpus_id)
      AS arn
  FROM (SELECT pb.probe_id, a.vec_id AS corpus_id,
          sum(p.x * r.rx) / (pn.nrm * rn2.nrm) AS approx
        FROM pbuckets pb
        JOIN assigned a ON a.centroid_id = pb.centroid_id
          AND a.vec_id <> pb.probe_id
        JOIN vexp p ON p.vec_id = pb.probe_id
        JOIN rec r ON r.vec_id = a.vec_id AND r.i = p.i
        JOIN norms pn ON pn.vec_id = pb.probe_id
        JOIN recn rn2 ON rn2.vec_id = a.vec_id
        GROUP BY pb.probe_id, a.vec_id, pn.nrm, rn2.nrm) t),
ex AS (SELECT c.probe_id, c.corpus_id,
    list_dot_product(CAST(pa.embedding AS DOUBLE[]),
                     CAST(pb.embedding AS DOUBLE[])) / (na.nrm * nb.nrm)
      AS cosine
  FROM scand c
  JOIN embeddings pa ON pa.vec_id = c.probe_id
  JOIN embeddings pb ON pb.vec_id = c.corpus_id
  JOIN norms na ON na.vec_id = c.probe_id
  JOIN norms nb ON nb.vec_id = c.corpus_id
  WHERE c.arn <= 40)""".drop(1)),
    "s2_similarity_ivf" -> eq(raw"""
SELECT probe_id, CAST(rank AS BIGINT) AS rank, corpus_id,
       round(cosine, 6) AS cosine
FROM (SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY round(cosine, 6) DESC, corpus_id) AS rank
      FROM scored2) r
WHERE rank <= 10""",
      extra = raw"""
cb AS (SELECT vec_id AS centroid_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
cdot AS (SELECT v.vec_id, c.centroid_id, sum(v.x * cv.x) AS dot
  FROM vexp v JOIN cb c ON true
  JOIN vexp cv ON cv.vec_id = c.centroid_id AND cv.i = v.i
  GROUP BY v.vec_id, c.centroid_id),
csim AS (SELECT cdot.vec_id, cdot.centroid_id,
    cdot.dot/(nv.nrm*nc.nrm) AS sim
  FROM cdot JOIN norms nv ON nv.vec_id = cdot.vec_id
  JOIN norms nc ON nc.vec_id = cdot.centroid_id),
assigned AS (SELECT vec_id, centroid_id FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY round(sim, 6) DESC, centroid_id) AS rn FROM csim) t
  WHERE rn = 1),
pbuckets AS (SELECT vec_id AS probe_id, centroid_id FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY round(sim, 6) DESC, centroid_id) AS rn
  FROM csim WHERE vec_id < 5) t WHERE rn <= 2),
cand AS (SELECT pb.probe_id, a.vec_id AS corpus_id
  FROM pbuckets pb JOIN assigned a ON a.centroid_id = pb.centroid_id
  WHERE a.vec_id <> pb.probe_id),
cdots2 AS (SELECT c.probe_id, c.corpus_id, sum(pa.x*pb.x) AS dot
  FROM cand c JOIN vexp pa ON pa.vec_id = c.probe_id
  JOIN vexp pb ON pb.vec_id = c.corpus_id AND pb.i = pa.i
  GROUP BY c.probe_id, c.corpus_id),
scored2 AS (SELECT cdots2.probe_id, cdots2.corpus_id,
    cdots2.dot/(na.nrm*nb.nrm) AS cosine
  FROM cdots2 JOIN norms na ON na.vec_id = cdots2.probe_id
  JOIN norms nb ON nb.vec_id = cdots2.corpus_id)""".drop(1)),
    // the TRUE literal pins the recall target: a Spark-side recall
    // regression below 0.9 flips meets_target and fails the hash gate
    "s2_ivf_recall" -> eq(raw"""
SELECT CAST(hits AS BIGINT) AS n_matched, CAST(tot AS BIGINT) AS n_total,
       round(hits/tot, 6) AS recall, TRUE AS meets_target
FROM (SELECT count(*) FILTER (WHERE i.corpus_id IS NOT NULL) AS hits,
             count(*) AS tot
      FROM bf b LEFT JOIN ivf i
      ON i.probe_id = b.probe_id AND i.corpus_id = b.corpus_id) t""",
      extra = raw"""
cb AS (SELECT vec_id AS centroid_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
cdot AS (SELECT v.vec_id, c.centroid_id, sum(v.x * cv.x) AS dot
  FROM vexp v JOIN cb c ON true
  JOIN vexp cv ON cv.vec_id = c.centroid_id AND cv.i = v.i
  GROUP BY v.vec_id, c.centroid_id),
csim AS (SELECT cdot.vec_id, cdot.centroid_id,
    cdot.dot/(nv.nrm*nc.nrm) AS sim
  FROM cdot JOIN norms nv ON nv.vec_id = cdot.vec_id
  JOIN norms nc ON nc.vec_id = cdot.centroid_id),
assigned AS (SELECT vec_id, centroid_id FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY round(sim, 6) DESC, centroid_id) AS rn FROM csim) t
  WHERE rn = 1),
pbuckets AS (SELECT vec_id AS probe_id, centroid_id FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY round(sim, 6) DESC, centroid_id) AS rn
  FROM csim WHERE vec_id < 20) t WHERE rn <= 14),
cand AS (SELECT pb.probe_id, a.vec_id AS corpus_id
  FROM pbuckets pb JOIN assigned a ON a.centroid_id = pb.centroid_id
  WHERE a.vec_id <> pb.probe_id),
ivf AS (SELECT probe_id, corpus_id FROM (
  SELECT c.probe_id, c.corpus_id, row_number() OVER (
      PARTITION BY c.probe_id
      ORDER BY round(c.dot/(na.nrm*nb.nrm), 6) DESC, c.corpus_id) AS rank
  FROM (SELECT cd.probe_id, cd.corpus_id, sum(pa.x*pb.x) AS dot
        FROM cand cd JOIN vexp pa ON pa.vec_id = cd.probe_id
        JOIN vexp pb ON pb.vec_id = cd.corpus_id AND pb.i = pa.i
        GROUP BY cd.probe_id, cd.corpus_id) c
  JOIN norms na ON na.vec_id = c.probe_id
  JOIN norms nb ON nb.vec_id = c.corpus_id) r WHERE rank <= 10),
bf AS (SELECT probe_id, corpus_id FROM (
  SELECT dd.probe_id, dd.corpus_id, row_number() OVER (
      PARTITION BY dd.probe_id
      ORDER BY round(dd.dot/(na.nrm*nb.nrm), 6) DESC, dd.corpus_id) AS rank
  FROM (SELECT a.vec_id AS probe_id, b.vec_id AS corpus_id,
          sum(a.x*b.x) AS dot
        FROM vexp a JOIN vexp b ON a.i = b.i
        WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id
        GROUP BY a.vec_id, b.vec_id) dd
  JOIN norms na ON na.vec_id = dd.probe_id
  JOIN norms nb ON nb.vec_id = dd.corpus_id) r WHERE rank <= 10)""".drop(1)),
    "s13_filtered_ivf" -> s13FilteredSql,
    // served twin: the reopened labeled-index snapshot must reproduce
    // the fresh assignment row for row — SAME oracle verbatim
    "s13_filtered_served" -> s13FilteredSql,
    // pruned-served twin: directory-level bucket pruning over the
    // centroid-partitioned snapshot must not change a row
    "s13_filtered_served_pruned" -> s13FilteredSql,
    // filteredIvfRecall: BOTH sides recomputed over the same-label
    // slice (s2_ivf_recall shape — the recall VALUE is pinned, the
    // TRUE literal pins the 0.7 target on top), nProbe=14, 20 probes
    "s13_filtered_recall" -> eq(raw"""
SELECT CAST(hits AS BIGINT) AS n_matched, CAST(tot AS BIGINT) AS n_total,
       round(hits/tot, 6) AS recall, TRUE AS meets_target
FROM (SELECT count(*) FILTER (WHERE i.corpus_id IS NOT NULL) AS hits,
             count(*) AS tot
      FROM bf b LEFT JOIN ivf i
      ON i.probe_id = b.probe_id AND i.corpus_id = b.corpus_id) t""",
      extra = raw"""
lab AS (SELECT vec_id, label FROM embeddings),
cb AS (SELECT vec_id AS centroid_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
cdot AS (SELECT v.vec_id, c.centroid_id, sum(v.x * cv.x) AS dot
  FROM vexp v JOIN cb c ON true
  JOIN vexp cv ON cv.vec_id = c.centroid_id AND cv.i = v.i
  GROUP BY v.vec_id, c.centroid_id),
csim AS (SELECT cdot.vec_id, cdot.centroid_id,
    cdot.dot/(nv.nrm*nc.nrm) AS sim
  FROM cdot JOIN norms nv ON nv.vec_id = cdot.vec_id
  JOIN norms nc ON nc.vec_id = cdot.centroid_id),
assigned AS (SELECT vec_id, centroid_id FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY round(sim, 6) DESC, centroid_id) AS rn FROM csim) t
  WHERE rn = 1),
pbuckets AS (SELECT vec_id AS probe_id, centroid_id FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY round(sim, 6) DESC, centroid_id) AS rn
  FROM csim WHERE vec_id < 20) t WHERE rn <= 14),
cand AS (SELECT pb.probe_id, a.vec_id AS corpus_id
  FROM pbuckets pb JOIN assigned a ON a.centroid_id = pb.centroid_id
  JOIN lab la ON la.vec_id = a.vec_id
  JOIN lab lp ON lp.vec_id = pb.probe_id AND la.label = lp.label
  WHERE a.vec_id <> pb.probe_id),
ivf AS (SELECT probe_id, corpus_id FROM (
  SELECT c.probe_id, c.corpus_id, row_number() OVER (
      PARTITION BY c.probe_id
      ORDER BY round(c.dot/(na.nrm*nb.nrm), 6) DESC, c.corpus_id) AS rank
  FROM (SELECT cd.probe_id, cd.corpus_id, sum(pa.x*pb.x) AS dot
        FROM cand cd JOIN vexp pa ON pa.vec_id = cd.probe_id
        JOIN vexp pb ON pb.vec_id = cd.corpus_id AND pb.i = pa.i
        GROUP BY cd.probe_id, cd.corpus_id) c
  JOIN norms na ON na.vec_id = c.probe_id
  JOIN norms nb ON nb.vec_id = c.corpus_id) r WHERE rank <= 10),
bf AS (SELECT probe_id, corpus_id FROM (
  SELECT dd.probe_id, dd.corpus_id, row_number() OVER (
      PARTITION BY dd.probe_id
      ORDER BY round(dd.dot/(na.nrm*nb.nrm), 6) DESC, dd.corpus_id) AS rank
  FROM (SELECT a.vec_id AS probe_id, b.vec_id AS corpus_id,
          sum(a.x*b.x) AS dot
        FROM vexp a JOIN vexp b ON a.i = b.i
        JOIN lab la ON la.vec_id = a.vec_id
        JOIN lab lb ON lb.vec_id = b.vec_id AND la.label = lb.label
        WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id
        GROUP BY a.vec_id, b.vec_id) dd
  JOIN norms na ON na.vec_id = dd.probe_id
  JOIN norms nb ON nb.vec_id = dd.corpus_id) r WHERE rank <= 10)""".drop(1)),
    // streaming IVF ingest: the emitted (vec_id, centroid_id) set is
    // order-independent and equals the batch assignment — same cb /
    // csim / assigned chain as the s2 oracle
    // streaming SQ8 ingest == batch sq8Encode (order-independent
    // stateless encode): the same rng/codes arithmetic as s5, codes
    // CSV-packed in dimension order
    "e9_stream_sq8" -> eq(raw"""
SELECT vec_id AS corpus_id,
       array_to_string(list(CAST(c AS BIGINT) ORDER BY i), ',')
         AS codes_csv
FROM codes GROUP BY vec_id""",
      extra = raw"""
rng AS (SELECT i, min(x) AS lo, max(x) - min(x) AS span
  FROM vexp GROUP BY i),
codes AS (SELECT v.vec_id, v.i,
    CASE WHEN r.span > 0 THEN least(greatest(
      floor((v.x - r.lo) / r.span * 255 + 0.5), 0), 255)
    ELSE 0 END AS c
  FROM vexp v JOIN rng r USING (i))""".drop(1)),
    "e6_stream_ivf_assign" -> eq(raw"""
SELECT vec_id, centroid_id FROM assigned""",
      extra = raw"""
cb AS (SELECT vec_id AS centroid_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
cdot AS (SELECT v.vec_id, c.centroid_id, sum(v.x * cv.x) AS dot
  FROM vexp v JOIN cb c ON true
  JOIN vexp cv ON cv.vec_id = c.centroid_id AND cv.i = v.i
  GROUP BY v.vec_id, c.centroid_id),
csim AS (SELECT cdot.vec_id, cdot.centroid_id,
    cdot.dot/(nv.nrm*nc.nrm) AS sim
  FROM cdot JOIN norms nv ON nv.vec_id = cdot.vec_id
  JOIN norms nc ON nc.vec_id = cdot.centroid_id),
assigned AS (SELECT vec_id, centroid_id FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY round(sim, 6) DESC, centroid_id) AS rn
  FROM csim) t WHERE rn = 1)""".drop(1)),
    // clusterMixture mirrored: the e6/s2 sampled-codebook assignment
    // chain feeding the p3 integer-count/correctly-rounded-chain
    // aggregation
    "p7_cluster_mixture" -> eq(raw"""
SELECT centroid_id, n_vecs,
  round(CAST(n_vecs AS DOUBLE) / total, 6) AS share,
  round(sqrt(CAST(n_vecs AS DOUBLE)) / sqrt(CAST(mx AS DOUBLE)), 6)
    AS temp_weight
FROM cper, ctot""",
      extra = raw"""
cb AS (SELECT vec_id AS centroid_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
cdot AS (SELECT v.vec_id, c.centroid_id, sum(v.x * cv.x) AS dot
  FROM vexp v JOIN cb c ON true
  JOIN vexp cv ON cv.vec_id = c.centroid_id AND cv.i = v.i
  GROUP BY v.vec_id, c.centroid_id),
csim AS (SELECT cdot.vec_id, cdot.centroid_id,
    cdot.dot/(nv.nrm*nc.nrm) AS sim
  FROM cdot JOIN norms nv ON nv.vec_id = cdot.vec_id
  JOIN norms nc ON nc.vec_id = cdot.centroid_id),
assigned AS (SELECT vec_id, centroid_id FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY round(sim, 6) DESC, centroid_id) AS rn
  FROM csim) t WHERE rn = 1),
cper AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vecs
  FROM assigned GROUP BY centroid_id),
ctot AS (SELECT sum(n_vecs) AS total, max(n_vecs) AS mx FROM cper)"""
        .drop(1)),
    // PQ ADC search: every distance is the 6-dp fixed-point long
    // (floor((x−y)²·10⁶+0.5) per element, integer sums), so argmin
    // ties, ADC totals, and rank keys are exact on both engines —
    // the full top-10 with distances is hash-pinned, no float-order
    // caveat at all
    "s3_similarity_pq" -> eq(raw"""
SELECT probe_id, CAST(rank AS BIGINT) AS rank, corpus_id,
       round(CAST(sd AS DOUBLE) / 1e6, 6) AS adc_dist
FROM (SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY sd, corpus_id) AS rank
      FROM adc) r
WHERE rank <= 10""",
      extra = raw"""
pqcb AS (SELECT rn - 1 AS cid, vec_id AS sid FROM (
  SELECT vec_id, row_number() OVER (
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM embeddings) t WHERE rn <= 16),
subd AS (SELECT v.vec_id, (v.i-1)//8 AS j, p.cid,
    sum(CAST(floor((v.x - cv.x)*(v.x - cv.x)*1e6 + 0.5) AS BIGINT)) AS d
  FROM vexp v JOIN pqcb p ON true
  JOIN vexp cv ON cv.vec_id = p.sid AND cv.i = v.i
  GROUP BY v.vec_id, (v.i-1)//8, p.cid),
pqcode AS (SELECT vec_id, j, cid FROM (
  SELECT vec_id, j, cid, row_number() OVER (
    PARTITION BY vec_id, j ORDER BY d, cid) AS rn FROM subd) t
  WHERE rn = 1),
adc AS (SELECT pd.vec_id AS probe_id, cd.vec_id AS corpus_id,
    sum(pd.d) AS sd
  FROM pqcode cd JOIN subd pd
    ON pd.j = cd.j AND pd.cid = cd.cid AND pd.vec_id < 5
  WHERE cd.vec_id <> pd.vec_id
  GROUP BY 1, 2)""".drop(1)),
    // recall of the code-only search vs the exact fixed-point L2 scan;
    // target 0.1 — the isotropic distance-concentration floor (see
    // QueryDefs) — pinned as the computed comparison, so a Spark-side
    // drop below it flips meets_target and fails the hash gate
    "s3_pq_recall" -> eq(raw"""
SELECT CAST(hits AS BIGINT) AS n_matched, CAST(tot AS BIGINT) AS n_total,
       round(CAST(hits AS DOUBLE)/tot, 6) AS recall,
       CAST(hits AS DOUBLE)/tot >= 0.1 AS meets_target
FROM (SELECT count(*) FILTER (WHERE pq.corpus_id IS NOT NULL) AS hits,
             count(*) AS tot
      FROM bfk LEFT JOIN pqk pq
      ON pq.probe_id = bfk.probe_id AND pq.corpus_id = bfk.corpus_id) t""",
      extra = raw"""
pqcb AS (SELECT rn - 1 AS cid, vec_id AS sid FROM (
  SELECT vec_id, row_number() OVER (
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM embeddings) t WHERE rn <= 16),
subd AS (SELECT v.vec_id, (v.i-1)//8 AS j, p.cid,
    sum(CAST(floor((v.x - cv.x)*(v.x - cv.x)*1e6 + 0.5) AS BIGINT)) AS d
  FROM vexp v JOIN pqcb p ON true
  JOIN vexp cv ON cv.vec_id = p.sid AND cv.i = v.i
  GROUP BY v.vec_id, (v.i-1)//8, p.cid),
pqcode AS (SELECT vec_id, j, cid FROM (
  SELECT vec_id, j, cid, row_number() OVER (
    PARTITION BY vec_id, j ORDER BY d, cid) AS rn FROM subd) t
  WHERE rn = 1),
adc20 AS (SELECT pd.vec_id AS probe_id, cd.vec_id AS corpus_id,
    sum(pd.d) AS sd
  FROM pqcode cd JOIN subd pd
    ON pd.j = cd.j AND pd.cid = cd.cid AND pd.vec_id < 20
  WHERE cd.vec_id <> pd.vec_id
  GROUP BY 1, 2),
pqk AS (SELECT probe_id, corpus_id FROM (
  SELECT *, row_number() OVER (
    PARTITION BY probe_id ORDER BY sd, corpus_id) AS rn FROM adc20) t
  WHERE rn <= 10),
bfd AS (SELECT a.vec_id AS probe_id, b.vec_id AS corpus_id,
    sum(CAST(floor((a.x - b.x)*(a.x - b.x)*1e6 + 0.5) AS BIGINT)) AS d
  FROM vexp a JOIN vexp b ON b.i = a.i AND b.vec_id <> a.vec_id
  WHERE a.vec_id < 20 GROUP BY 1, 2),
bfk AS (SELECT probe_id, corpus_id FROM (
  SELECT *, row_number() OVER (
    PARTITION BY probe_id ORDER BY d, corpus_id) AS rn FROM bfd) t
  WHERE rn <= 10)""".drop(1)))

  // ----------------------------------------------- events + multimodal
  private def nibSql(pos: String): String =
    s"(strpos('0123456789abcdef', substr(h, $pos, 1))-1)"

  private val mmCtes: String = raw"""
m AS (SELECT doc_id AS media_id,
  CASE CAST(doc_id%3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       ELSE 'video' END AS kind,
  text, md5(text) AS h FROM documents),
dec AS (SELECT media_id, kind, text, h,
  CAST(((${nibSql("1")}*16 + ${nibSql("2")})%192 + 1)*10 AS BIGINT) AS width,
  CAST(((${nibSql("3")}*16 + ${nibSql("4")})%108 + 1)*10 AS BIGINT) AS height,
  CASE WHEN kind <> 'image' THEN CAST(strlen(text) AS BIGINT)*100 + 1000
       ELSE NULL END AS duration_ms,
  CASE CAST(media_id%3 AS INTEGER) WHEN 0 THEN 'png' WHEN 1 THEN 'opus'
       ELSE 'h264' END AS codec
  FROM m)"""

  private val m4Sql: String = (0 until 8).map { j =>
    val hi = nibSql(s"${2 * j + 1}")
    val lo = nibSql(s"${2 * j + 2}")
    s"SELECT media_id, CAST($j AS BIGINT) AS dim_i, " +
    s"CAST(CAST((($hi*16 + $lo)/127.5 - 1.0) AS FLOAT) AS DOUBLE) AS val FROM m"
  }.mkString("\nUNION ALL\n")

  /** m6/m8 perceptual near-dup oracle: pure planting-rule arithmetic
    * (each perturbed copy pairs with its base at hamming 0). */
  private val m6NeardupSql: String = raw"""
WITH s AS (SELECT max(doc_id) + 1 AS v FROM documents)
SELECT doc_id AS media_a, doc_id + (SELECT v FROM s) AS media_b,
       CAST(0 AS BIGINT) AS hamming
FROM documents WHERE doc_id % 7 = 0"""

  val misc: Map[String, String] = Map(
    // trained-codebook ANN certificate: 20 probes x k=10 rows compared,
    // recall target met at nProbe=2 (vs 14 for the untrained codebook
    // on isotropic data) — the pinned TRUE fails the gate on regression
    "s2_ivf_recall_kmeans" ->
      "SELECT CAST(200 AS BIGINT) AS n_total, TRUE AS meets_target",
    // PQ structured-data certificate: same-cluster precision@10 of the
    // ADC search on the 16-cluster embeddings, target 0.7 (measured
    // 0.985/0.95/0.795 at sf0.001/0.01/0.1; random baseline 0.0625)
    "s3_pq_precision_clustered" ->
      "SELECT CAST(200 AS BIGINT) AS n_total, TRUE AS meets_target",
    // IVF-PQ composition: bucket-pruned ADC same-cluster precision@10,
    // target 0.7 (measured 0.985/0.975/0.855 at sf0.001/0.01/0.1)
    "s4_ivfpq_precision" ->
      "SELECT CAST(200 AS BIGINT) AS n_total, TRUE AS meets_target",
    // IVFADC residual encoding: same-cluster precision@10 pinned at
    // plain IVF-PQ's worst measured point (0.855 at sf0.1), equal nProbe
    "s4_ivfpq_residual" ->
      "SELECT CAST(200 AS BIGINT) AS n_total, TRUE AS meets_target",
    // trained PQ sub-codebooks: never lose to the md5 sample, and hold
    // the 0.05 absolute floor (2x margin at every SF incl. sf1)
    "s3_pq_recall_trained" ->
      ("SELECT CAST(200 AS BIGINT) AS n_total, " +
        "TRUE AS trained_ge_sampled, TRUE AS trained_meets_floor"),
    // F6: a miss-search must render the literal empty-document guard
    "f6_empty_guard" -> "SELECT '{}' AS doc",
    // S11: the output-tree layout at threshold 47 (the GoldenTree
    // config) — four metadata documents plus one chromosome document
    // per chromosome of the thresholded working set (MT dropped, PP
    // pseudo-chromosome appended), every file non-empty
    "s11_tree_write" -> raw"""
WITH pre AS (SELECT ${chrSql("l_suppkey")} AS bchr, ${chrSql("l_partkey")} AS ochr
  FROM lineitem WHERE l_quantity > 47.0),
fil AS (SELECT * FROM pre
  WHERE bchr NOT LIKE '%MT%' AND ochr NOT LIKE '%MT%'),
chrs AS (SELECT DISTINCT chr FROM
  (SELECT bchr AS chr FROM fil UNION ALL SELECT ochr FROM fil) t
  UNION ALL SELECT 'PP')
SELECT 'chromosomes/chr'||chr||'.json' AS file, TRUE AS nonempty FROM chrs
UNION ALL SELECT 'metadata.json', TRUE
UNION ALL SELECT 'suggestions.json', TRUE
UNION ALL SELECT 'chromosomes.json', TRUE
UNION ALL SELECT 'features_metadata.json', TRUE""",
    // incremental refresh of a dirty chromosome set: chr7's document
    // renders iff the thin working set touches chr7 (either endpoint);
    // chrMT is requested but MT edges are F4-dropped, so its document
    // keeps the "{}" guard — rendered=false at every SF
    "s11_tree_refresh" -> raw"""
WITH pre AS (SELECT ${chrSql("l_suppkey")} AS bchr, ${chrSql("l_partkey")} AS ochr
  FROM lineitem WHERE l_quantity > 47.0),
fil AS (SELECT * FROM pre
  WHERE bchr NOT LIKE '%MT%' AND ochr NOT LIKE '%MT%')
SELECT 'chromosomes/chr7.json' AS file,
  EXISTS(SELECT 1 FROM fil WHERE bchr = '7' OR ochr = '7') AS rendered
UNION ALL SELECT 'chromosomes/chrMT.json',
  EXISTS(SELECT 1 FROM fil WHERE bchr = 'MT' OR ochr = 'MT')""",
    "e1_sessionize" -> raw"""
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       count(*) AS n_events,
       CAST(min(ts) AS TIMESTAMP) AS session_start,
       CAST(max(ts) AS TIMESTAMP) AS session_end,
       round(sum(value), 4) AS session_value
FROM (SELECT *, sum(news) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM (SELECT *, CASE WHEN prev IS NULL
                OR epoch_us(ts) - epoch_us(prev) > 1800000000
                THEN 1 ELSE 0 END AS news
            FROM (SELECT *, lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS prev
                  FROM events) t1) t2) t3
GROUP BY user_id, session_seq""",
    // the streaming dedup emits the distinct key set (order-independent
    // regardless of which duplicate row won its microbatch)
    "e4_stream_dedup" -> raw"""
SELECT DISTINCT md5(text) AS text_hash FROM documents""",
    // the streaming quality filter is stateless, so the batch filter
    // over the identical t2 arithmetic is the exact oracle
    "e5_stream_quality_filter" -> (raw"""
WITH rtoks AS (SELECT doc_id, text,
  list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks
  FROM documents)
SELECT doc_id, n_tokens,
  round(0.25*lenok + 0.25*least(stop*10.0, 1.0)
        + 0.25*alpha + 0.25*dst, 4) AS quality FROM (
  SELECT doc_id, n_tokens,
    CASE WHEN ml >= 3.0 AND ml <= 10.0 THEN 1.0 ELSE 0.0 END AS lenok,
    stop, alpha, dst FROM (
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      CAST(length(array_to_string(toks,'')) AS DOUBLE)/greatest(len(toks),1) AS ml,
      CAST(len(list_filter(toks, t -> list_contains($stopwordsSql, t)))
        AS DOUBLE)/greatest(len(toks),1) AS stop,
      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        /greatest(length(text),1) AS alpha,
      CAST(len(list_distinct(toks)) AS DOUBLE)/greatest(len(toks),1) AS dst
    FROM rtoks) i) o
WHERE round(0.25*lenok + 0.25*least(stop*10.0, 1.0)
            + 0.25*alpha + 0.25*dst, 4) >= 0.75"""),
    "e3_stream_sessionize" -> raw"""
WITH bs AS (
  SELECT user_id, session_seq, count(*) AS n_events,
         CAST(min(ts) AS TIMESTAMP) AS session_start,
         CAST(max(ts) AS TIMESTAMP) AS session_end,
         round(sum(value), 4) AS value
  FROM (SELECT *, sum(news) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM (SELECT *, CASE WHEN prev IS NULL
                  OR epoch_us(ts) - epoch_us(prev) > 1800000000
                  THEN 1 ELSE 0 END AS news
              FROM (SELECT *, lag(ts) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id) AS prev
                    FROM events) t1) t2) t3
  GROUP BY user_id, session_seq),
mxv AS (SELECT max(epoch_us(ts)) AS mx FROM events),
ls AS (SELECT user_id, max(session_seq) AS lseq FROM bs GROUP BY user_id)
SELECT b.user_id, b.session_start, b.session_end, b.n_events, b.value
FROM bs b JOIN ls ON b.user_id = ls.user_id, mxv
WHERE b.session_seq < ls.lseq
   OR (epoch_us(b.session_end) + 1800000999)//1000 <= mx//1000 - 1800000""",
    "e2_windowed_counts" -> raw"""
SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
       event_type, count(*) AS n, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2""",
    // batch twin + append-mode cutoff: emitted windows are those whose
    // end (ms) the final watermark (max ts ms - 10 min) has passed
    "e2_stream_windowed" -> raw"""
SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
       event_type, count(*) AS n, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2
HAVING (epoch_us(CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP))
        + 3600000000)//1000
       <= (SELECT max(epoch_us(ts))//1000 - 600000 FROM events)""",
    "m1_decode_meta" -> (s"WITH $mmCtes\n" +
      "SELECT media_id, kind, width, height, duration_ms, codec FROM dec"),
    "m2_resize_meta" -> (s"WITH $mmCtes\n" + raw"""
SELECT media_id,
  CAST(floor(width * least(640.0/width, 480.0/height, 1.0)) AS BIGINT) AS width,
  CAST(floor(height * least(640.0/width, 480.0/height, 1.0)) AS BIGINT) AS height
FROM dec"""),
    "m3_frame_sample" -> (s"WITH $mmCtes\n" + raw"""
SELECT media_id, kind,
  unnest(generate_series(0, greatest(duration_ms - 1, 0), 60000)) AS frame_ts_ms
FROM dec WHERE kind IN ('video', 'audio')"""),
    // real-dHash pin: the fixture guarantees (a) noise-perturbed
    // re-encoded copies keep the exact hash (every dHash bit has >=14
    // gray levels of contrast, noise is +/-3) and (b) distinct ids get
    // independent ~uniform 64-bit hashes (P[hamming<=6] ~ 4e-12/pair),
    // so the TRUE pair set is exactly the planted copies at hamming 0.
    // The planted-id shift is max(doc_id)+1, mirroring plantShift —
    // SF-safe (shifted ids never collide with base ids).
    "m6_phash_neardup" -> m6NeardupSql,
    // m8 incremental probe: same planting arithmetic VERBATIM — every
    // planted pair touches the batch and no standing-standing pair
    // exists in the fixture, so the full-rebuild restriction is the
    // identity (the spec proves the standing-standing exclusion on a
    // crafted fixture)
    "m8_phash_incremental" -> m6NeardupSql,
    // e20 streamed probe: same planting arithmetic VERBATIM — the
    // pair set is batch-split-invariant in this fixture (no
    // planted-planted pairs), cross-batch pairing spec-proven
    "e20_stream_phash_ingest" -> m6NeardupSql,
    // cluster arithmetic: each planted copy (any regime) clusters with
    // its base; label = lpad(min id) = the base id; bases with any
    // copy list themselves too (cluster size >= 2)
    "m6_phash_clusters" -> raw"""
WITH s AS (SELECT max(doc_id) + 1 AS v FROM documents),
members AS (
  SELECT doc_id, doc_id AS media_id FROM documents
    WHERE doc_id%7 = 0 OR doc_id%11 = 0 OR doc_id%13 = 0
  UNION ALL SELECT doc_id, doc_id + (SELECT v FROM s)
    FROM documents WHERE doc_id%7 = 0
  UNION ALL SELECT doc_id, doc_id + 2*(SELECT v FROM s)
    FROM documents WHERE doc_id%11 = 0
  UNION ALL SELECT doc_id, doc_id + 3*(SELECT v FROM s)
    FROM documents WHERE doc_id%13 = 0)
SELECT media_id, lpad(CAST(doc_id AS VARCHAR), 12, '0') AS cluster
FROM members""",
    // real-video pin, hamming-tolerant: perturbed re-encoded copies
    // (+S, every 7th) preserve all 4 per-frame dHashes exactly;
    // cell-swapped copies (+2S, every 13th) put every frame at
    // hamming 1-2 — band-verified near-equal, so they pair too (an
    // exact-equality matcher misses them and fails this gate); for
    // d % 91 = 0 the two plants also pair with each other. Distinct
    // videos' frames sit >= hamming 5 apart (HamProbe, COVERAGE.md) —
    // no false pairs at threshold 2.
    "m7_video_neardup" -> raw"""
WITH s AS (SELECT max(doc_id) + 1 AS v FROM documents)
SELECT doc_id AS media_a, doc_id + (SELECT v FROM s) AS media_b,
       CAST(4 AS BIGINT) AS n_shared_frames
FROM documents WHERE doc_id % 7 = 0
UNION ALL
SELECT doc_id, doc_id + 2*(SELECT v FROM s), CAST(4 AS BIGINT)
FROM documents WHERE doc_id % 13 = 0
UNION ALL
SELECT doc_id + (SELECT v FROM s), doc_id + 2*(SELECT v FROM s),
       CAST(4 AS BIGINT)
FROM documents WHERE doc_id % 91 = 0""",
    // the AVI container runs the SAME plant structure through the same
    // frame-hash engine — uncompressed DIB round-trips pixels exactly,
    // so m7's oracle arithmetic pins it verbatim
    "m7_video_neardup_avi" -> raw"""
WITH s AS (SELECT max(doc_id) + 1 AS v FROM documents)
SELECT doc_id AS media_a, doc_id + (SELECT v FROM s) AS media_b,
       CAST(4 AS BIGINT) AS n_shared_frames
FROM documents WHERE doc_id % 7 = 0
UNION ALL
SELECT doc_id, doc_id + 2*(SELECT v FROM s), CAST(4 AS BIGINT)
FROM documents WHERE doc_id % 13 = 0
UNION ALL
SELECT doc_id + (SELECT v FROM s), doc_id + 2*(SELECT v FROM s),
       CAST(4 AS BIGINT)
FROM documents WHERE doc_id % 91 = 0""",
    // the MIXED corpus (even docs GIF, odd docs AVI, plants in the
    // OPPOSITE container) runs the same plant structure — container
    // choice cannot appear in the oracle because both containers
    // round-trip the same frame rule pixel-exactly, which is the
    // claim this lane pins: a cross-container pair hashes like a
    // same-container pair
    "m7_video_neardup_mixed" -> raw"""
WITH s AS (SELECT max(doc_id) + 1 AS v FROM documents)
SELECT doc_id AS media_a, doc_id + (SELECT v FROM s) AS media_b,
       CAST(4 AS BIGINT) AS n_shared_frames
FROM documents WHERE doc_id % 7 = 0
UNION ALL
SELECT doc_id, doc_id + 2*(SELECT v FROM s), CAST(4 AS BIGINT)
FROM documents WHERE doc_id % 13 = 0
UNION ALL
SELECT doc_id + (SELECT v FROM s), doc_id + 2*(SELECT v FROM s),
       CAST(4 AS BIGINT)
FROM documents WHERE doc_id % 91 = 0""",
    "m4_feature_extract" -> s"WITH $mmCtes\n$m4Sql",
    // real-ImageIO pins: Spark DECODES actual PNG bytes; the oracle
    // PREDICTS the metadata from the fixture's id-derived dimension
    // rule (Multimodal.synthesizeImages) — agreement proves the codec
    // path read the real headers, not the stub fallback
    "m5_decode_real" -> raw"""
SELECT doc_id AS media_id,
  CAST((doc_id%19 + 1)*8 AS BIGINT) AS width,
  CAST((doc_id%13 + 1)*8 AS BIGINT) AS height,
  'png' AS codec
FROM documents""",
    // exact-integer pixel-statistics pin: the oracle re-derives every
    // (cell, channel) count/sum/sum-of-squares from the fixture's
    // pixel arithmetic — no codec, no floats, any disagreement in any
    // decoded pixel value shows in some cell sum
    "m4_pixel_stats" -> raw"""
WITH imgs AS (SELECT doc_id AS media_id,
    (doc_id%19 + 1)*8 AS w, (doc_id%13 + 1)*8 AS h
  FROM documents WHERE doc_id < 200),
px AS (SELECT i.media_id, i.w, i.h, y.y, x.x,
    (x.x*31 + y.y*7 + i.media_id) % 16777216 AS v
  FROM imgs i,
    unnest(generate_series(0, i.h - 1)) y(y),
    unnest(generate_series(0, i.w - 1)) x(x)),
ch AS (SELECT media_id, (y*2)//h AS cell_i, (x*2)//w AS cell_j,
    c.c AS channel,
    CASE c.c WHEN 0 THEN v//65536 WHEN 1 THEN (v%65536)//256
             ELSE v%256 END AS cv
  FROM px, (SELECT unnest([0,1,2]) AS c) c)
SELECT media_id, CAST(cell_i AS BIGINT) AS cell_i,
  CAST(cell_j AS BIGINT) AS cell_j, CAST(channel AS BIGINT) AS channel,
  count(*) AS n, CAST(sum(cv) AS BIGINT) AS psum,
  CAST(sum(cv*cv) AS BIGINT) AS psum_sq
FROM ch GROUP BY 1, 2, 3, 4""",
    "m5_decode_video_real" -> raw"""
SELECT doc_id AS media_id,
  CAST(72 AS BIGINT) AS width, CAST(64 AS BIGINT) AS height,
  CAST(4*(doc_id%20 + 1)*50 AS BIGINT) AS duration_ms,
  'gif' AS codec
FROM documents""",
    // the AVI twin: identical arithmetic (avih dwMicroSecPerFrame
    // carries the same timing rule), different container + codec tag
    "m5_decode_avi_real" -> raw"""
SELECT doc_id AS media_id,
  CAST(72 AS BIGINT) AS width, CAST(64 AS BIGINT) AS height,
  CAST(4*(doc_id%20 + 1)*50 AS BIGINT) AS duration_ms,
  'avi' AS codec
FROM documents""",
    "m5_decode_audio_real" -> raw"""
SELECT doc_id AS media_id,
  CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
  CAST((doc_id%50 + 1)*100 AS BIGINT) AS duration_ms,
  'wav' AS codec
FROM documents""",
    "m5_resize_real" -> raw"""
SELECT media_id,
  CAST(floor(w * least(64.0/w, 48.0/h, 1.0)) AS BIGINT) AS width,
  CAST(floor(h * least(64.0/w, 48.0/h, 1.0)) AS BIGINT) AS height
FROM (SELECT doc_id AS media_id,
        CAST((doc_id%19 + 1)*8 AS DOUBLE) AS w,
        CAST((doc_id%13 + 1)*8 AS DOUBLE) AS h FROM documents) t""")

  // ------------------------------------------------- S1-S9 file readers
  // Each oracle reads the SAME fixture file the Spark query just wrote
  // (ReaderHarness) with DuckDB read_csv/read_parquet under the same
  // declared schema — verifying the reader's PARSE, not the fixture's
  // derivation. Paths follow the SF-scoped ReaderHarness.fxDir layout;
  // Verify substitutes __SF_TOKEN__ from the run's sfDir at dump time.
  private val fxRoot = "/tmp/graft_fixtures/__SF_TOKEN__"

  val readers: Map[String, String] = Map(
    "s1_read_pchic" -> raw"""
SELECT * FROM read_csv('$fxRoot/s1_pchic/*.csv', delim=chr(9), header=true,
  columns={'baitChr':'VARCHAR','baitStart':'BIGINT','baitEnd':'BIGINT',
           'baitID':'BIGINT','baitName':'VARCHAR','oeChr':'VARCHAR',
           'oeStart':'BIGINT','oeEnd':'BIGINT','oeID':'BIGINT',
           'oeName':'VARCHAR','dist':'DOUBLE','Mon':'DOUBLE','Mac':'DOUBLE'})""",
    // the stale repeated-header row fails the coordinate casts -> dropped,
    // mirroring loadHiC's null-coordinate filter (HiC[-1,])
    "s2_read_hic" -> raw"""
SELECT baitChr, TRY_CAST(baitStart AS BIGINT) AS baitStart,
       TRY_CAST(baitEnd AS BIGINT) AS baitEnd, oeChr,
       TRY_CAST(oeStart AS BIGINT) AS oeStart,
       TRY_CAST(oeEnd AS BIGINT) AS oeEnd
FROM read_csv('$fxRoot/s2_hic/*.txt', delim=chr(9), header=true,
              all_varchar=true)
WHERE TRY_CAST(baitStart AS BIGINT) IS NOT NULL
  AND TRY_CAST(oeStart AS BIGINT) IS NOT NULL""",
    // Hi-C-mode pipeline over the same fixture: stale-row drop + MT
    // drop, then all-"O" vertices / first-wins-simplified "O-O" edges
    "g1_hic_vertices" -> raw"""
WITH h AS (SELECT baitChr, TRY_CAST(baitStart AS BIGINT) AS baitStart,
    TRY_CAST(baitEnd AS BIGINT) AS baitEnd, oeChr,
    TRY_CAST(oeStart AS BIGINT) AS oeStart,
    TRY_CAST(oeEnd AS BIGINT) AS oeEnd
  FROM read_csv('$fxRoot/s2_hic/*.txt', delim=chr(9), header=true,
                all_varchar=true)
  WHERE TRY_CAST(baitStart AS BIGINT) IS NOT NULL
    AND TRY_CAST(oeStart AS BIGINT) IS NOT NULL
    AND baitChr NOT LIKE '%MT%' AND oeChr NOT LIKE '%MT%')
SELECT DISTINCT fragment, '' AS gene_names, chr, "start", "end",
       'O' AS type FROM (
  SELECT baitChr||'_'||baitStart||'_'||baitEnd AS fragment, baitChr AS chr,
         baitStart AS "start", baitEnd AS "end" FROM h
  UNION ALL
  SELECT oeChr||'_'||oeStart||'_'||oeEnd, oeChr, oeStart, oeEnd FROM h) u""",
    "g1_hic_edges" -> raw"""
WITH h AS (SELECT baitChr, TRY_CAST(baitStart AS BIGINT) AS baitStart,
    TRY_CAST(baitEnd AS BIGINT) AS baitEnd, oeChr,
    TRY_CAST(oeStart AS BIGINT) AS oeStart,
    TRY_CAST(oeEnd AS BIGINT) AS oeEnd
  FROM read_csv('$fxRoot/s2_hic/*.txt', delim=chr(9), header=true,
                all_varchar=true)
  WHERE TRY_CAST(baitStart AS BIGINT) IS NOT NULL
    AND TRY_CAST(oeStart AS BIGINT) IS NOT NULL
    AND baitChr NOT LIKE '%MT%' AND oeChr NOT LIKE '%MT%'),
e AS (SELECT baitChr||'_'||baitStart||'_'||baitEnd AS src,
             oeChr||'_'||oeStart||'_'||oeEnd AS dst FROM h)
SELECT src, dst, 'O-O' AS type FROM (
  SELECT src, dst, row_number() OVER (
      PARTITION BY least(src,dst), greatest(src,dst)
      ORDER BY src, dst) AS rn
  FROM e WHERE src <> dst) t WHERE rn = 1""",
    "s3_format_sniff" -> raw"""
SELECT 'pchic' AS src, CAST(len(string_split(
  string_split(content, chr(10))[1], chr(9))) = 6 AS BOOLEAN) AS is_hic
FROM read_text('$fxRoot/s3_sniff/pchic/*.txt')
UNION ALL
SELECT 'hic', CAST(len(string_split(
  string_split(content, chr(10))[1], chr(9))) = 6 AS BOOLEAN)
FROM read_text('$fxRoot/s3_sniff/hic/*.txt')""",
    "s4_read_features_on_nodes" -> raw"""
SELECT regexp_replace(frag_key, '^chr', '') AS fragment, f1, f2
FROM read_csv('$fxRoot/s4_features_on_nodes/*.csv', delim=chr(9), header=true,
  columns={'frag_key':'VARCHAR','f1':'DOUBLE','f2':'DOUBLE'})""",
    "s5_read_alias" -> raw"""
SELECT * FROM read_csv('$fxRoot/s5_alias/*.csv', delim=chr(9), header=true,
  columns={'chr':'VARCHAR','start':'BIGINT','end':'BIGINT',
           'ensembl_gene_id':'VARCHAR','gene_name':'VARCHAR',
           'gene_type':'VARCHAR','alias':'VARCHAR','xref_id':'VARCHAR'})""",
    "s6_read_intronic" -> raw"""
SELECT * FROM read_csv('$fxRoot/s6_intronic/*.csv.gz', delim=chr(9),
  header=true,
  columns={'chr':'VARCHAR','start':'BIGINT','end':'BIGINT'})""",
    "s7_read_bait_names" -> raw"""
SELECT * FROM read_csv('$fxRoot/s7_bait_names/*.csv', delim=chr(9),
  header=true,
  columns={'Chr':'VARCHAR','Start':'BIGINT','End':'BIGINT',
           'gene_id':'VARCHAR','ensembl_id':'VARCHAR','region':'VARCHAR'})""",
    "s8_read_bed3" -> raw"""
SELECT chr, "start", "end", 'pk' AS feature, value
FROM read_csv('$fxRoot/s8_bed3/*.csv', delim=chr(9), header=false,
  columns={'chr':'VARCHAR','start':'BIGINT','end':'BIGINT','value':'DOUBLE'})""",
    "s8_read_bed6" -> raw"""
SELECT chr, "start", "end", 'cons' AS feature, score AS value
FROM read_csv('$fxRoot/s8_bed6/*.csv', delim=chr(9), header=false,
  columns={'chr':'VARCHAR','start':'BIGINT','end':'BIGINT','name':'VARCHAR',
           'score':'DOUBLE','strand':'VARCHAR'})""",
    "s8_read_macs2" -> raw"""
SELECT chr, "start", "end", 'atac' AS feature, signalValue AS value
FROM read_csv('$fxRoot/s8_macs2/*.csv', delim=chr(9), header=false,
  columns={'chr':'VARCHAR','start':'BIGINT','end':'BIGINT','name':'VARCHAR',
           'score':'DOUBLE','strand':'VARCHAR','signalValue':'DOUBLE',
           'pValue':'DOUBLE','qValue':'DOUBLE','peak':'BIGINT'})""",
    "s8_read_chromhmm" -> raw"""
SELECT chr, "start", "end", state AS feature, CAST(1.0 AS DOUBLE) AS value
FROM read_csv('$fxRoot/s8_chromhmm/*.csv', delim=chr(9), header=false,
  columns={'chr':'VARCHAR','start':'BIGINT','end':'BIGINT','state':'VARCHAR'})""",
    "s8_read_features_table" -> raw"""
WITH ft AS (SELECT * FROM read_csv('$fxRoot/s8_features_table/*.csv',
  delim=chr(9), header=true,
  columns={'chr':'VARCHAR','start':'BIGINT','end':'BIGINT',
           'm1':'DOUBLE','m2':'DOUBLE'}))
SELECT chr, "start", "end", 'm1' AS feature, m1 AS value FROM ft
UNION ALL
SELECT chr, "start", "end", 'm2', m2 FROM ft""",
    "s9_snapshot_roundtrip" -> raw"""
SELECT fragment, gene_names, chr, "start", "end", type
FROM read_parquet('$fxRoot/s9_snapshot/*/*.parquet', hive_partitioning=true)""")

  /** Forced-distributed regime pins: the SAME oracle SQL as the
    * local-regime entries — the Spark side passes localMaxEdges=0 /
    * localMaxChainRows=0, so these rows hash-pin the distributed
    * chains (pointer-jumping CC, sweep+iFUB diameter, windowed swap
    * rounds) that the bounded-regime routing otherwise hides from the
    * gate. Bit-identity of the two regimes is the routing contract
    * (GraphOps/Chas scaladoc) — these entries make the driver prove
    * it every round instead of trusting the ScalaTest equality specs. */
  val distRegime: Map[String, String] = Map(
    "a6_components_dist" -> graph("a6_components"),
    // incremental CC pins the FULL-rebuild oracle verbatim — the split
    // never appears in SQL, so the match proves fold-in ≡ rebuild
    "a6_components_inc" -> graph("a6_components"),
    "a6_components_inc_served" -> graph("a6_components"),
    "a7_diameter_dist" -> graph("a7_diameter"),
    "g6_randomize_dist" -> randomizeOracles("g6_randomize"),
    // distributedDocs=Some(true): chr<c>.json becomes a part-file
    // directory; the logical listing collapses it, so the stream
    // writer's expected file set applies unchanged
    "s11_tree_write_dist" -> misc("s11_tree_write"),
    // snapshot-SERVED search must be row-identical to rebuilt-served:
    // the S9 parquet round-trip + inverted-index lookup serve path is
    // pinned against the rebuild path's exact oracle
    "q6_search_served" -> graph("q6_search_subnet"),
    // the served Q5 range form: snapshot-served must be row-identical
    // to the rebuilt range search (induced-only subnet = the seed set)
    "q5_range_served" -> graph("q5_range_search"),
    // the chromosome-partitioned layout must serve the SAME rows as the
    // full scan — partition pruning is an IO plan choice, not semantics
    "q5_range_served_part" -> graph("q5_range_search"),
    // and the pruned ego/gene path must serve the subnet the full-scan
    // rebuild computes
    "q6_search_served_pruned" -> graph("q6_search_subnet"))

  // ---------------------------------------------- s7 NN-Descent oracles
  // The FULL kNN graph carries a hash oracle: the deterministic init
  // (md5(id:i:knn) mod N) + S7Rounds NN-descent rounds macro-expand as CTEs,
  // every ranking on round(cosine, 6) with id tiebreaks — the same
  // total order the engine ranks by (Similarity.knnGraphNNDescent).
  // Pair scoring uses list_dot_product on the raw arrays (the d5
  // lesson: a per-dimension join explodes |pairs|×64 rows at sf1).

  // Multi-consumer CTEs are MATERIALIZED: DuckDB inlines CTEs by
  // default, and each g$r is referenced 3× by round r+1 — inlined,
  // the plan tree (and the parquet re-opens) grow ~5^rounds, observed
  // as "Too many open files" at 4 rounds. The a6/a17 restructure
  // (COVERAGE.md oracle-tractability notes) set the precedent:
  // materialize exactly the multi-consumer frames.
  private def knnScoreCte(src: String, out: String,
                          emb: String = "emb2",
                          nrm: String = "nrm2"): String = raw"""
$out AS MATERIALIZED (SELECT p.src, p.dst,
    round(list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                           CAST(eb.embedding AS DOUBLE[]))
          / (na.nrm * nb.nrm), 6) AS cos
  FROM $src p
  JOIN $emb ea ON ea.vec_id = p.src
  JOIN $emb eb ON eb.vec_id = p.dst
  JOIN $nrm na ON na.vec_id = p.src
  JOIN $nrm nb ON nb.vec_id = p.dst)"""

  private def knnTopKCte(src: String, out: String): String = raw"""
$out AS MATERIALIZED (SELECT src, dst, cos FROM (
    SELECT src, dst, cos, row_number() OVER (
      PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM $src) t
  WHERE rn <= 10)"""

  private val S7Rounds = 4
  // emb2 = the indexed corpus the graph is built over. For s7/s8 it's
  // the whole 2000-vector gate cap (QueryDefs s7 comment: the oracle's
  // per-round pair scoring is corpus·cap²/2 — bounded so the sf1 gate
  // stays inside its wall budget); s9 re-builds over the BASE subset
  // (the batch held out), so the filter is a parameter.
  /** The corpus-INDEPENDENT part of the s7 replay — seed draw, pair
    * scoring and S7Rounds descent rounds over pre-defined emb2
    * (vec_id, embedding) / nrm2 (vec_id, nrm) CTEs: shared by the
    * embeddings-table lanes ([[s7CtesFor]] supplies the standard
    * emb2/nrm2) and the rag_retrieve lane, whose corpus is hashed
    * CHUNK embeddings. */
  private def s7BodyCtes: String = {
    val init = raw"""
nn AS (SELECT count(*) AS n FROM emb2),
ii AS (SELECT unnest(generate_series(0, 9)) AS i),
ip AS (SELECT DISTINCT e.vec_id AS src,
    CAST('0x' || substr(md5(e.vec_id || ':' || ii.i || ':knn'), 1, 12)
      AS BIGINT) % nn.n AS dst
  FROM emb2 e, ii, nn),
ipf AS (SELECT src, dst FROM ip
  WHERE dst <> src AND dst IN (SELECT vec_id FROM emb2)),
${knnScoreCte("ipf", "sc0")},
${knnTopKCte("sc0", "g0")}""".drop(1)
    val roundCtes = (1 to S7Rounds).map { r => raw"""
b$r AS (SELECT src AS p, dst AS x FROM g${r - 1}
  UNION SELECT dst AS p, src AS x FROM g${r - 1}),
bc$r AS MATERIALIZED (SELECT p, x FROM (
    SELECT p, x, row_number() OVER (PARTITION BY p
      ORDER BY md5(p || ':' || x), x) AS rn FROM b$r) t
  WHERE rn <= 20),
cd$r AS (SELECT DISTINCT a.x AS src, b.x AS dst
  FROM bc$r a JOIN bc$r b ON a.p = b.p AND a.x < b.x),
${knnScoreCte(s"cd$r", s"pc$r")},
al$r AS (SELECT src, dst, max(cos) AS cos FROM (
    SELECT src, dst, cos FROM g${r - 1}
    UNION ALL SELECT src, dst, cos FROM pc$r
    UNION ALL SELECT dst AS src, src AS dst, cos FROM pc$r) u
  GROUP BY src, dst),
${knnTopKCte(s"al$r", s"g$r")}""".drop(1)
    }
    (init +: roundCtes).mkString(",\n")
  }
  private def s7CtesFor(embFilter: String): String = raw"""
emb2 AS MATERIALIZED (SELECT * FROM embeddings WHERE $embFilter),
nrm2 AS MATERIALIZED (SELECT vec_id, nrm FROM norms
  WHERE vec_id IN (SELECT vec_id FROM emb2))""".drop(1) +
    ",\n" + s7BodyCtes
  private val s7Ctes: String = s7CtesFor("vec_id < 2000")

  // ------------------------------------------------- retrieval oracles
  // BM25 constants appear as LITERALS on both sides (2.2, 1.2, 0.25,
  // 0.75): `k1 + 1` computed at runtime is 2.1999999999999997 — not
  // the double the literal 2.2 parses to — and the engines must agree
  // bit-for-bit before the 4-dp round.
  private val bm25Ctes: String = raw"""
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
st AS (SELECT count(*) AS n,
    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
tfr AS (SELECT doc_id, t AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS t FROM toks) u
  GROUP BY doc_id, t),
dfr AS (SELECT term, count(*) AS df FROM tfr GROUP BY term),
qt AS (SELECT DISTINCT doc_id AS probe_id, term FROM tfr
  WHERE doc_id < 5),
bsc AS (SELECT q.probe_id, tfr.doc_id,
    round(sum(ln(1.0 + (st.n - dfr.df + 0.5) / (dfr.df + 0.5))
        * tfr.tf * 2.2
        / (tfr.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 4) AS score
  FROM qt q
  JOIN tfr ON tfr.term = q.term AND tfr.doc_id <> q.probe_id
  JOIN dfr ON dfr.term = q.term
  JOIN dl ON dl.doc_id = tfr.doc_id
  CROSS JOIN st
  GROUP BY q.probe_id, tfr.doc_id),
lex AS (SELECT probe_id, doc_id, CAST(rank AS BIGINT) AS lex_rank FROM (
    SELECT probe_id, doc_id, row_number() OVER (PARTITION BY probe_id
      ORDER BY score DESC, doc_id) AS rank FROM bsc) t
  WHERE rank <= 20)""".drop(1)

  /** The full r1 lane SQL, shared verbatim by r6_bm25_compacted — the
    * compaction-equals-batch-build pin for the lexical index. */
  private lazy val r1Bm25Sql: String = dq(raw"""
SELECT probe_id, CAST(rank AS BIGINT) AS rank, doc_id, score
FROM (SELECT probe_id, doc_id, score, row_number() OVER (
    PARTITION BY probe_id ORDER BY score DESC, doc_id) AS rank
  FROM bsc) r
WHERE rank <= 20""",
    extra = bm25Ctes)

  // s8 beam search over the s7 graph: entry seeds → S8Steps rounds of
  // expand (both edge directions) / score / top-beam prune, every
  // ranking on (round(cosine, 6) DESC, id) — mirrors
  // Similarity.graphBeamSearch step for step.
  private def beamScoreCte(src: String, out: String,
                           emb: String = "emb2",
                           nrm: String = "nrm2"): String = raw"""
$out AS (SELECT p.probe_id, p.node,
    round(list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                           CAST(eb.embedding AS DOUBLE[]))
          / (na.nrm * nb.nrm), 6) AS cos
  FROM $src p
  JOIN $emb ea ON ea.vec_id = p.probe_id
  JOIN $emb eb ON eb.vec_id = p.node
  JOIN $nrm na ON na.vec_id = p.probe_id
  JOIN $nrm nb ON nb.vec_id = p.node)"""

  private def beamTopCte(src: String, out: String): String = raw"""
$out AS MATERIALIZED (SELECT probe_id, node, cos FROM (
    SELECT probe_id, node, cos, row_number() OVER (
      PARTITION BY probe_id ORDER BY cos DESC, node) AS rn FROM $src) t
  WHERE rn <= 20)"""

  private val S8Steps = 5
  /** The s8 beam replay over whatever emb2/nrm2/g$S7Rounds precede it;
    * `probeFilter` selects the probe ids (the standard lanes' 20-probe
    * set, the rag lane's 5 chunk probes). */
  private def s8CtesFor(probeFilter: String): String = {
    val init = raw"""
gsym AS MATERIALIZED (SELECT src, dst FROM g$S7Rounds
  UNION SELECT dst AS src, src AS dst FROM g$S7Rounds),
si AS (SELECT unnest(generate_series(0, 9)) AS i),
f0 AS (SELECT DISTINCT e.vec_id AS probe_id,
    CAST('0x' || substr(md5(e.vec_id || ':' || si.i || ':beam'), 1, 12)
      AS BIGINT) % nn.n AS node
  FROM emb2 e, si, nn WHERE $probeFilter),
f0f AS (SELECT probe_id, node FROM f0
  WHERE node <> probe_id AND node IN (SELECT vec_id FROM emb2)),
${beamScoreCte("f0f", "bs0")},
${beamTopCte("bs0", "c0")}""".drop(1)
    val stepCtes = (1 to S8Steps).map { r => raw"""
ex$r AS (SELECT DISTINCT probe_id, node FROM (
    SELECT c.probe_id, g.dst AS node
    FROM c${r - 1} c JOIN gsym g ON g.src = c.node
    UNION ALL SELECT probe_id, node FROM c${r - 1}) u
  WHERE node <> probe_id),
${beamScoreCte(s"ex$r", s"bs$r")},
${beamTopCte(s"bs$r", s"c$r")}""".drop(1)
    }
    (init +: stepCtes).mkString(",\n")
  }
  private val s8Ctes: String = s8CtesFor("e.vec_id < 20")

  // s9 incremental insert: the s7 graph replay runs over the BASE
  // subset (batch held out via % 17), each batch id beam-searches that
  // graph (scoring resolves vectors from embA = base ∪ batch), top-k
  // becomes its forward edges, affected base nodes re-rank old ∪
  // reverse arrivals — mirrors Similarity.knnGraphInsert step for step.
  private val S9BaseFilter = "vec_id < 2000 AND vec_id % 17 <> 0"
  private val s9Ctes: String = {
    val init = raw"""
embA AS MATERIALIZED (SELECT * FROM embeddings WHERE vec_id < 2000),
nrmA AS MATERIALIZED (SELECT vec_id, nrm FROM norms
  WHERE vec_id < 2000),
gsym AS MATERIALIZED (SELECT src, dst FROM g$S7Rounds
  UNION SELECT dst AS src, src AS dst FROM g$S7Rounds),
si AS (SELECT unnest(generate_series(0, 9)) AS i),
f0 AS (SELECT DISTINCT e.vec_id AS probe_id,
    CAST('0x' || substr(md5(e.vec_id || ':' || si.i || ':beam'), 1, 12)
      AS BIGINT) % nn.n AS node
  FROM embA e, si, nn WHERE e.vec_id % 17 = 0),
f0f AS (SELECT probe_id, node FROM f0
  WHERE node <> probe_id AND node IN (SELECT vec_id FROM emb2)),
${beamScoreCte("f0f", "bs0", "embA", "nrmA")},
${beamTopCte("bs0", "c0")}""".drop(1)
    val stepCtes = (1 to S8Steps).map { r => raw"""
ex$r AS (SELECT DISTINCT probe_id, node FROM (
    SELECT c.probe_id, g.dst AS node
    FROM c${r - 1} c JOIN gsym g ON g.src = c.node
    UNION ALL SELECT probe_id, node FROM c${r - 1}) u
  WHERE node <> probe_id),
${beamScoreCte(s"ex$r", s"bs$r", "embA", "nrmA")},
${beamTopCte(s"bs$r", s"c$r")}""".drop(1)
    }
    val merge = raw"""
fwd AS MATERIALIZED (SELECT probe_id AS src, node AS dst, cos FROM (
    SELECT probe_id, node, cos, row_number() OVER (
      PARTITION BY probe_id ORDER BY cos DESC, node) AS rn
    FROM c$S8Steps) t
  WHERE rn <= 10),
rev AS (SELECT dst AS src, src AS dst, cos FROM fwd),
aff AS (SELECT DISTINCT src FROM rev),
oldg AS (SELECT src, dst, cos FROM g$S7Rounds),
updk AS (SELECT src, dst, cos FROM (
    SELECT src, dst, cos, row_number() OVER (
      PARTITION BY src ORDER BY cos DESC, dst) AS rn
    FROM (SELECT src, dst, cos FROM oldg
          WHERE src IN (SELECT src FROM aff)
          UNION ALL SELECT src, dst, cos FROM rev) u) t
  WHERE rn <= 10),
outg AS (SELECT src, dst, cos FROM oldg
  WHERE src NOT IN (SELECT src FROM aff)
  UNION ALL SELECT src, dst, cos FROM updk
  UNION ALL SELECT src, dst, cos FROM fwd)""".drop(1)
    (init +: stepCtes :+ merge).mkString(",\n")
  }

  // s10 delete + repair: drop the deleted ids' rows and every edge
  // into them, then each survivor that lost an edge re-ranks kept ∪
  // the deleted neighbors' former neighborhoods — mirrors
  // Similarity.knnGraphDelete step for step (graph over the FULL
  // 2000-vector cap, delete set = every 29th id).
  private val s10Ctes: String = {
    raw"""
delid AS MATERIALIZED (SELECT vec_id FROM emb2 WHERE vec_id % 29 = 0),
gsur AS (SELECT src, dst, cos FROM g$S7Rounds
  WHERE src NOT IN (SELECT vec_id FROM delid)),
kept AS MATERIALIZED (SELECT src, dst, cos FROM gsur
  WHERE dst NOT IN (SELECT vec_id FROM delid)),
lost AS MATERIALIZED (SELECT src, dst FROM gsur
  WHERE dst IN (SELECT vec_id FROM delid)),
dadj AS (SELECT src AS d, dst AS cand FROM (
    SELECT src, dst FROM g$S7Rounds
    UNION SELECT dst AS src, src AS dst FROM g$S7Rounds) u
  WHERE src IN (SELECT vec_id FROM delid)),
cnd AS (SELECT DISTINCT l.src, a.cand AS dst
  FROM lost l JOIN dadj a ON a.d = l.dst
  WHERE a.cand <> l.src
    AND a.cand NOT IN (SELECT vec_id FROM delid)),
${knnScoreCte("cnd", "csc")},
aff AS MATERIALIZED (SELECT DISTINCT src FROM lost),
mrg AS (SELECT src, dst, max(cos) AS cos FROM (
    SELECT src, dst, cos FROM kept
    WHERE src IN (SELECT src FROM aff)
    UNION ALL SELECT src, dst, cos FROM csc) u
  GROUP BY src, dst),
updk AS (SELECT src, dst, cos FROM (
    SELECT src, dst, cos, row_number() OVER (
      PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM mrg) t
  WHERE rn <= 10),
outd AS MATERIALIZED (SELECT src, dst, cos FROM kept
  WHERE src NOT IN (SELECT src FROM aff)
  UNION ALL SELECT src, dst, cos FROM updk)""".drop(1)
  }

  // r3 MMR: greedy diversified selection macro-expanded — pool and
  // pairwise sims once, then k-1 steps of (candidates = pool −
  // selected) → max-sim-to-selected → argmax(0.5·rel − 0.5·maxsim) —
  // mirrors Retrieval.mmrRerank step for step. Same 2000-vector corpus
  // cap as s7/s8 keeps the sf1 oracle linear.
  private val MmrK = 10
  // the dense top-20 pool per probe over the 2000-vector cap — shared
  // by r3 (MMR input) and r5 (hard-negative candidate pool)
  private val densePoolCtes: String = raw"""
emb2 AS MATERIALIZED (SELECT * FROM embeddings WHERE vec_id < 2000),
nrm2 AS MATERIALIZED (SELECT vec_id, nrm FROM norms
  WHERE vec_id IN (SELECT vec_id FROM emb2)),
mpool AS MATERIALIZED (SELECT probe_id, corpus_id, rel FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS corpus_id,
      round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[]))
            / (na.nrm * nb.nrm), 6) AS rel,
      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / (na.nrm * nb.nrm), 6) DESC, b.vec_id) AS rn
    FROM emb2 a JOIN emb2 b ON b.vec_id <> a.vec_id
    JOIN nrm2 na ON na.vec_id = a.vec_id
    JOIN nrm2 nb ON nb.vec_id = b.vec_id
    WHERE a.vec_id < 20) t WHERE rn <= 20)""".drop(1)
  /** The MMR greedy chain over whatever `mpool` (probe_id, corpus_id,
    * rel) and emb2/nrm2 precede it — mirrors Retrieval.mmrFromPool:
    * pairwise sims once, then MmrK−1 steps of candidates → max-sim →
    * argmax pick. r3 feeds it the dense brute-force pool
    * ([[densePoolCtes]]); rag_retrieve feeds it the final beam. */
  private val mmrChainCtes: String = {
    val init = raw"""
msim AS MATERIALIZED (SELECT pa.probe_id, pa.corpus_id AS id_a,
    pb.corpus_id AS id_b,
    round(list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                           CAST(eb.embedding AS DOUBLE[]))
          / (na.nrm * nb.nrm), 6) AS sim
  FROM mpool pa
  JOIN mpool pb ON pb.probe_id = pa.probe_id
    AND pb.corpus_id <> pa.corpus_id
  JOIN emb2 ea ON ea.vec_id = pa.corpus_id
  JOIN emb2 eb ON eb.vec_id = pb.corpus_id
  JOIN nrm2 na ON na.vec_id = pa.corpus_id
  JOIN nrm2 nb ON nb.vec_id = pb.corpus_id),
msel1 AS (SELECT probe_id, corpus_id, rel, rel AS mmr,
    CAST(1 AS BIGINT) AS rank
  FROM (SELECT probe_id, corpus_id, rel, row_number() OVER (
      PARTITION BY probe_id ORDER BY rel DESC, corpus_id) AS rn
    FROM mpool) t WHERE rn = 1)""".drop(1)
    val steps = (2 to MmrK).map { i => raw"""
mms$i AS (SELECT c.probe_id, c.corpus_id, c.rel,
    round(0.5 * c.rel - 0.5 * max(s.sim), 6) AS mmr
  FROM (SELECT p.probe_id, p.corpus_id, p.rel FROM mpool p
        WHERE NOT EXISTS (SELECT 1 FROM msel${i - 1} q
          WHERE q.probe_id = p.probe_id
            AND q.corpus_id = p.corpus_id)) c
  JOIN msim s ON s.probe_id = c.probe_id AND s.id_a = c.corpus_id
  JOIN msel${i - 1} q2 ON q2.probe_id = s.probe_id
    AND q2.corpus_id = s.id_b
  GROUP BY c.probe_id, c.corpus_id, c.rel),
mpick$i AS (SELECT probe_id, corpus_id, rel, mmr,
    CAST($i AS BIGINT) AS rank
  FROM (SELECT probe_id, corpus_id, rel, mmr, row_number() OVER (
      PARTITION BY probe_id ORDER BY mmr DESC, corpus_id) AS rn
    FROM mms$i) t WHERE rn = 1),
msel$i AS MATERIALIZED (SELECT * FROM msel${i - 1}
  UNION ALL SELECT * FROM mpick$i)""".drop(1)
    }
    (init +: steps).mkString(",\n")
  }
  private val mmrCtes: String = densePoolCtes + ",\n" + mmrChainCtes

  // refine = one NN-Descent round over the INSERTED graph (outg),
  // scoring against embA (base ∪ batch — the refined graph's id
  // space) — mirrors Similarity.knnGraphRefine(descentRound) exactly.
  private val refineCtes: String = raw"""
rb AS (SELECT src AS p, dst AS x FROM outg
  UNION SELECT dst AS p, src AS x FROM outg),
rbc AS MATERIALIZED (SELECT p, x FROM (
    SELECT p, x, row_number() OVER (PARTITION BY p
      ORDER BY md5(p || ':' || x), x) AS rn FROM rb) t
  WHERE rn <= 20),
rcd AS (SELECT DISTINCT a.x AS src, b.x AS dst
  FROM rbc a JOIN rbc b ON a.p = b.p AND a.x < b.x),
${knnScoreCte("rcd", "rpc", "embA", "nrmA")},
ral AS (SELECT src, dst, max(cos) AS cos FROM (
    SELECT src, dst, cos FROM outg
    UNION ALL SELECT src, dst, cos FROM rpc
    UNION ALL SELECT dst AS src, src AS dst, cos FROM rpc) u
  GROUP BY src, dst),
rg AS MATERIALIZED (SELECT src, dst, cos FROM (
    SELECT src, dst, cos, row_number() OVER (
      PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM ral) t
  WHERE rn <= 10)""".drop(1)

  // t14 feature-hashing embedding: bigrams -> md5 bucket/sign ->
  // exact integer (doc, bucket) sums -> dense 64-dim L2-normalized
  // float vector (exploded form) — mirrors TextOps.hashEmbed.
  private val hashEmbedCtes: String = raw"""
hbg AS (SELECT doc_id,
    unnest(list_transform(generate_series(1, len(toks)-1),
      i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM toks WHERE doc_id < 2000 AND len(toks) >= 2),
hbk AS (SELECT doc_id,
    CAST('0x' || substr(md5(bg), 1, 12) AS BIGINT) % 64 AS b,
    CASE WHEN CAST('0x' || substr(md5(bg), 32, 1) AS BIGINT) % 2 = 0
         THEN 1 ELSE -1 END AS s
  FROM hbg),
hsum AS (SELECT doc_id, b, CAST(sum(s) AS BIGINT) AS v
  FROM hbk GROUP BY doc_id, b),
hraw AS (SELECT d.doc_id, i.i AS dim_i, COALESCE(h.v, 0) AS v
  FROM (SELECT doc_id FROM documents WHERE doc_id < 2000) d
  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) i
  LEFT JOIN hsum h ON h.doc_id = d.doc_id AND h.b = i.i),
hnrm AS (SELECT doc_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS n
  FROM hraw GROUP BY doc_id),
hemb AS MATERIALIZED (SELECT r.doc_id, r.dim_i,
    CASE WHEN n.n > 0
         THEN CAST(CAST(round(r.v / n.n, 6) AS FLOAT) AS DOUBLE)
         ELSE 0.0 END AS val
  FROM hraw r JOIN hnrm n ON n.doc_id = r.doc_id)""".drop(1)

  // rag_retrieve corpus: p8 chunking (16-token windows, stride 12)
  // over doc_id < 400 -> dense chunk ids (row_number by (doc, start),
  // the lane's capped-corpus plumbing) -> per-chunk feature-hash
  // embedding (the t14 chain over lowercased chunk-token bigrams;
  // chunk text re-tokenizes to exactly the lowercased slice, so the
  // bigrams build from the slice directly) -> emb2/nrm2 in the shape
  // the s7/s8/mmr chains consume (zero-norm chunks dropped, the
  // t14_embed_knn HAVING guard). Mirrors the QueryDefs rag_retrieve
  // stage list exactly.
  private val ragCorpusCtes: String = raw"""
rcd AS (SELECT doc_id, toks FROM rtoks WHERE doc_id < 400),
rcs AS (SELECT doc_id, unnest(generate_series(0, len(toks) - 1, 12)) AS st
  FROM rcd WHERE len(toks) > 0),
rck AS MATERIALIZED (SELECT s.doc_id,
    CAST(s.st // 12 AS BIGINT) AS chunk_idx,
    CAST(row_number() OVER (ORDER BY s.doc_id, s.st) - 1 AS BIGINT)
      AS vec_id,
    r.toks[s.st + 1 : s.st + 16] AS ct
  FROM rcs s JOIN rcd r ON r.doc_id = s.doc_id),
rbg AS (SELECT vec_id,
    unnest(list_transform(generate_series(1, len(ct) - 1),
      i -> lower(ct[i]) || ' ' || lower(ct[i + 1]))) AS bg
  FROM rck WHERE len(ct) >= 2),
rbk AS (SELECT vec_id,
    CAST('0x' || substr(md5(bg), 1, 12) AS BIGINT) % 64 AS b,
    CASE WHEN CAST('0x' || substr(md5(bg), 32, 1) AS BIGINT) % 2 = 0
         THEN 1 ELSE -1 END AS s
  FROM rbg),
rsum AS (SELECT vec_id, b, CAST(sum(s) AS BIGINT) AS v
  FROM rbk GROUP BY vec_id, b),
rraw AS (SELECT c.vec_id, i.i AS dim_i, COALESCE(h.v, 0) AS v
  FROM (SELECT vec_id FROM rck) c
  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) i
  LEFT JOIN rsum h ON h.vec_id = c.vec_id AND h.b = i.i),
rnm0 AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS n
  FROM rraw GROUP BY vec_id),
rhe AS (SELECT r.vec_id, r.dim_i,
    CAST(CAST(round(r.v / n.n, 6) AS FLOAT) AS DOUBLE) AS val
  FROM rraw r JOIN rnm0 n ON n.vec_id = r.vec_id AND n.n > 0),
emb2 AS MATERIALIZED (SELECT vec_id,
    list(val ORDER BY dim_i) AS embedding
  FROM rhe GROUP BY vec_id),
nrm2 AS MATERIALIZED (SELECT vec_id, sqrt(sum(val * val)) AS nrm
  FROM rhe GROUP BY vec_id)""".drop(1)

  val knnRetrieval: Map[String, String] = Map(
    // the composed RAG loop: chunk corpus (ragCorpusCtes) -> s7 graph
    // replay -> s8 beam for the 5 chunk probes -> final beam as the
    // MMR pool -> MmrK greedy picks, provenance joined back from rck.
    // Every stage is the SAME CTE chain its standalone lane pins; this
    // entry proves the seams.
    "rag_retrieve" -> dq(raw"""
SELECT m.probe_id, m.rank, m.corpus_id, k.doc_id, k.chunk_idx,
       m.rel, m.mmr
FROM msel$MmrK m JOIN rck k ON k.vec_id = m.corpus_id""",
      extra = ragCorpusCtes + ",\n" + s7BodyCtes + ",\n" +
        s8CtesFor("e.vec_id < 5") + ",\n" + raw"""
mpool AS MATERIALIZED (SELECT probe_id, node AS corpus_id, cos AS rel
  FROM c$S8Steps)""".drop(1) + ",\n" + mmrChainCtes),
    // the warm twin serves the identical composition from persisted
    // artifacts — the parquet roundtrip changes no values, so the
    // cold lane's SQL pins it verbatim (r1_bm25_served precedent)
    "rag_served" -> dq(raw"""
SELECT m.probe_id, m.rank, m.corpus_id, k.doc_id, k.chunk_idx,
       m.rel, m.mmr
FROM msel$MmrK m JOIN rck k ON k.vec_id = m.corpus_id""",
      extra = ragCorpusCtes + ",\n" + s7BodyCtes + ",\n" +
        s8CtesFor("e.vec_id < 5") + ",\n" + raw"""
mpool AS MATERIALIZED (SELECT probe_id, node AS corpus_id, cos AS rel
  FROM c$S8Steps)""".drop(1) + ",\n" + mmrChainCtes),
    // the AT-SCALE s8 certificate: the engine runs the FULL-corpus
    // graph build + beam serve + brute-force truth (20k vectors at
    // sf1) and reports (n_total, meets_target); the oracle pins
    // n_total by its own k·n brute-force COUNT (no graph replay — what
    // makes the entry tractable uncapped) and meets_target as the TRUE
    // literal, so an at-scale recall regression below 0.3 fails the
    // hash gate (r10 verdict Missing #1).
    "s8_beam_recall_full" -> eq(raw"""
SELECT CAST(count(*) AS BIGINT) AS n_total, TRUE AS meets_target
FROM bfrf""",
      extra = raw"""
bfrf AS (SELECT probe_id, corpus_id FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS corpus_id, row_number() OVER (
      PARTITION BY a.vec_id ORDER BY
        round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / (na.nrm * nb.nrm), 6) DESC, b.vec_id) AS rank
    FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
    JOIN norms na ON na.vec_id = a.vec_id
    JOIN norms nb ON nb.vec_id = b.vec_id
    WHERE a.vec_id < 20) r WHERE rank <= 10)""".drop(1)),
    // served BM25 = the same ranking arithmetic over the reopened
    // postings snapshot — SAME oracle as r1_bm25
    "r1_bm25_served" -> dq(raw"""
SELECT probe_id, CAST(rank AS BIGINT) AS rank, doc_id, score
FROM (SELECT probe_id, doc_id, score, row_number() OVER (
    PARTITION BY probe_id ORDER BY score DESC, doc_id) AS rank
  FROM bsc) r
WHERE rank <= 20""",
      extra = bm25Ctes),
    // snapshot build: the landed frames' row counts must equal the
    // pipeline's vertex/simplified-edge counts
    "q6_snapshot_build" -> gq(raw"""
SELECT 'edges' AS part, CAST(count(*) AS BIGINT) AS n FROM simplified
UNION ALL
SELECT 'nodes' AS part, CAST(count(*) AS BIGINT) AS n FROM verts"""),
    // r5 hard negatives: the dense top-20 pool minus the d2 near-dup
    // candidate pairs (both orientations) — mirrors
    // Retrieval.hardNegatives (needs BOTH the document-side LSH CTEs
    // and the embedding-side pool, hence the manual assembly)
    "r5_hard_negatives" ->
      (s"WITH $docCtes,$lshCandCtes,$embCtes,$densePoolCtes" + ",\n" +
        raw"""
posp AS (SELECT doc_a AS probe_id, doc_b AS corpus_id FROM cands
  UNION SELECT doc_b AS probe_id, doc_a AS corpus_id FROM cands)
SELECT probe_id, CAST(rn AS BIGINT) AS rank,
       corpus_id AS negative_id, rel AS cosine
FROM (SELECT p.probe_id, p.corpus_id, p.rel, row_number() OVER (
    PARTITION BY p.probe_id ORDER BY p.rel DESC, p.corpus_id) AS rn
  FROM mpool p
  WHERE NOT EXISTS (SELECT 1 FROM posp x
    WHERE x.probe_id = p.probe_id AND x.corpus_id = p.corpus_id)) t
WHERE rn <= 10""".drop(1)),
    "s7_knn_refine" -> eq(raw"""
SELECT src, CAST(rn AS BIGINT) AS rank, dst, cos AS cosine
FROM (SELECT src, dst, cos, row_number() OVER (
    PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM rg) r""",
      extra = s7CtesFor(S9BaseFilter) + ",\n" + s9Ctes + ",\n" +
        refineCtes),
    "s7_refine_recall" -> eq(raw"""
SELECT CAST(nb AS BIGINT) AS n_before, CAST(na2 AS BIGINT) AS n_after,
       CAST(tot AS BIGINT) AS n_total,
       round(nb / tot, 6) AS recall_before,
       round(na2 / tot, 6) AS recall_after,
       TRUE AS improved
FROM (SELECT
    count(*) FILTER (WHERE bi.corpus_id IS NOT NULL) AS nb,
    count(*) FILTER (WHERE ai.corpus_id IS NOT NULL) AS na2,
    count(*) AS tot
  FROM bfr
  LEFT JOIN bi ON bi.probe_id = bfr.probe_id
    AND bi.corpus_id = bfr.corpus_id
  LEFT JOIN ai ON ai.probe_id = bfr.probe_id
    AND ai.corpus_id = bfr.corpus_id) t""",
      extra = s7CtesFor(S9BaseFilter) + ",\n" + s9Ctes + ",\n" +
        refineCtes + "," + raw"""
bfr AS (SELECT probe_id, corpus_id FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS corpus_id, row_number() OVER (
      PARTITION BY a.vec_id ORDER BY
        round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / (na.nrm * nb.nrm), 6) DESC, b.vec_id) AS rank
    FROM embA a JOIN embA b ON b.vec_id <> a.vec_id
    JOIN nrmA na ON na.vec_id = a.vec_id
    JOIN nrmA nb ON nb.vec_id = b.vec_id
    WHERE a.vec_id % 17 = 0) r WHERE rank <= 10),
bi AS (SELECT src AS probe_id, dst AS corpus_id FROM outg
  WHERE src % 17 = 0),
ai AS (SELECT src AS probe_id, dst AS corpus_id FROM rg
  WHERE src % 17 = 0)""".drop(1)),
    "r3_mmr_rerank" -> eq(raw"""
SELECT probe_id, rank, corpus_id, rel, mmr FROM msel$MmrK""",
      extra = mmrCtes),
    // the relational-iteration regime shares the local twin's oracle
    // verbatim (regime bit-identity, the a6/g6/g8 precedent)
    "r3_mmr_rerank_dist" -> eq(raw"""
SELECT probe_id, rank, corpus_id, rel, mmr FROM msel$MmrK""",
      extra = mmrCtes),
    "s10_graph_delete" -> eq(raw"""
SELECT src, CAST(rn AS BIGINT) AS rank, dst, cos AS cosine
FROM (SELECT src, dst, cos, row_number() OVER (
    PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM outd) r""",
      extra = s7Ctes + ",\n" + s10Ctes),
    "s10_delete_cert" -> eq(raw"""
SELECT (SELECT count(*) FROM outd
        WHERE dst IN (SELECT vec_id FROM delid)) AS n_dangling,
       CAST(hits AS BIGINT) AS n_matched, CAST(tot AS BIGINT) AS n_total,
       round(hits / tot, 6) AS recall, TRUE AS meets_target
FROM (SELECT count(*) FILTER (WHERE gd.corpus_id IS NOT NULL) AS hits,
             count(*) AS tot
      FROM bfr LEFT JOIN gd
      ON gd.probe_id = bfr.probe_id AND gd.corpus_id = bfr.corpus_id) t""",
      extra = s7Ctes + ",\n" + s10Ctes + "," + raw"""
bfr AS (SELECT probe_id, corpus_id FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS corpus_id, row_number() OVER (
      PARTITION BY a.vec_id ORDER BY
        round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / (na.nrm * nb.nrm), 6) DESC, b.vec_id) AS rank
    FROM emb2 a JOIN emb2 b ON b.vec_id <> a.vec_id
    JOIN nrm2 na ON na.vec_id = a.vec_id
    JOIN nrm2 nb ON nb.vec_id = b.vec_id
    WHERE a.vec_id IN (SELECT src FROM aff)
      AND b.vec_id NOT IN (SELECT vec_id FROM delid)) r
  WHERE rank <= 10),
gd AS (SELECT src AS probe_id, dst AS corpus_id FROM outd
  WHERE src IN (SELECT src FROM aff))""".drop(1)),
    "s9_graph_insert" -> eq(raw"""
SELECT src, CAST(rn AS BIGINT) AS rank, dst, cos AS cosine
FROM (SELECT src, dst, cos, row_number() OVER (
    PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM outg) r""",
      extra = s7CtesFor(S9BaseFilter) + ",\n" + s9Ctes),
    // s9b compaction must equal the one-shot insert — SAME oracle SQL
    "s9_graph_compact" -> eq(raw"""
SELECT src, CAST(rn AS BIGINT) AS rank, dst, cos AS cosine
FROM (SELECT src, dst, cos, row_number() OVER (
    PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM outg) r""",
      extra = s7CtesFor(S9BaseFilter) + ",\n" + s9Ctes),
    // e12 = the fwd stage of the s9 replay, ranked: forward edges are
    // order-/batch-split-independent, so the streamed rows equal them
    "e12_stream_graph_ingest" -> eq(raw"""
SELECT probe_id AS src, CAST(rn AS BIGINT) AS rank, node AS dst,
       cos AS cosine
FROM (SELECT probe_id, node, cos, row_number() OVER (
    PARTITION BY probe_id ORDER BY cos DESC, node) AS rn
  FROM c$S8Steps) r
WHERE rn <= 10""",
      extra = s7CtesFor(S9BaseFilter) + ",\n" + s9Ctes),
    "s9_insert_recall" -> eq(raw"""
SELECT CAST(hits AS BIGINT) AS n_matched, CAST(tot AS BIGINT) AS n_total,
       round(hits / tot, 6) AS recall, TRUE AS meets_target
FROM (SELECT count(*) FILTER (WHERE ik.corpus_id IS NOT NULL) AS hits,
             count(*) AS tot
      FROM bfr LEFT JOIN ik
      ON ik.probe_id = bfr.probe_id AND ik.corpus_id = bfr.corpus_id) t""",
      extra = s7CtesFor(S9BaseFilter) + ",\n" + s9Ctes + "," + raw"""
bfr AS (SELECT probe_id, corpus_id FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS corpus_id, row_number() OVER (
      PARTITION BY a.vec_id ORDER BY
        round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / (na.nrm * nb.nrm), 6) DESC, b.vec_id) AS rank
    FROM embA a JOIN emb2 b ON b.vec_id <> a.vec_id
    JOIN nrmA na ON na.vec_id = a.vec_id
    JOIN nrm2 nb ON nb.vec_id = b.vec_id
    WHERE a.vec_id % 17 = 0) r WHERE rank <= 10),
ik AS (SELECT src AS probe_id, dst AS corpus_id FROM fwd)""".drop(1)),
    "s8_graph_search" -> eq(raw"""
SELECT probe_id, CAST(rn AS BIGINT) AS rank, node AS corpus_id,
       cos AS cosine
FROM (SELECT probe_id, node, cos, row_number() OVER (
    PARTITION BY probe_id ORDER BY cos DESC, node) AS rn
  FROM c$S8Steps) r
WHERE rn <= 10""",
      extra = s7Ctes + ",\n" + s8Ctes),
    // served form = same graph (deterministic build), same beam —
    // SAME oracle
    "s8_graph_served" -> eq(raw"""
SELECT probe_id, CAST(rn AS BIGINT) AS rank, node AS corpus_id,
       cos AS cosine
FROM (SELECT probe_id, node, cos, row_number() OVER (
    PARTITION BY probe_id ORDER BY cos DESC, node) AS rn
  FROM c$S8Steps) r
WHERE rn <= 10""",
      extra = s7Ctes + ",\n" + s8Ctes),
    "s8_beam_recall" -> eq(raw"""
SELECT CAST(hits AS BIGINT) AS n_matched, CAST(tot AS BIGINT) AS n_total,
       round(hits / tot, 6) AS recall, TRUE AS meets_target
FROM (SELECT count(*) FILTER (WHERE bb.corpus_id IS NOT NULL) AS hits,
             count(*) AS tot
      FROM bfr LEFT JOIN bb
      ON bb.probe_id = bfr.probe_id AND bb.corpus_id = bfr.corpus_id) t""",
      extra = s7Ctes + ",\n" + s8Ctes + "," + raw"""
bfr AS (SELECT probe_id, corpus_id FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS corpus_id, row_number() OVER (
      PARTITION BY a.vec_id ORDER BY
        round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / (na.nrm * nb.nrm), 6) DESC, b.vec_id) AS rank
    FROM emb2 a JOIN emb2 b ON b.vec_id <> a.vec_id
    JOIN nrm2 na ON na.vec_id = a.vec_id
    JOIN nrm2 nb ON nb.vec_id = b.vec_id
    WHERE a.vec_id < 20) r WHERE rank <= 10),
bb AS (SELECT probe_id, node AS corpus_id FROM (
    SELECT probe_id, node, row_number() OVER (
      PARTITION BY probe_id ORDER BY cos DESC, node) AS rn
    FROM c$S8Steps) t WHERE rn <= 10)""".drop(1)),
    "s7_knn_graph" -> eq(raw"""
SELECT src, CAST(rn AS BIGINT) AS rank, dst, cos AS cosine
FROM (SELECT src, dst, cos, row_number() OVER (
    PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM g$S7Rounds) r""",
      extra = s7Ctes),
    // quality certificate: graph neighbors vs brute-force truth on a
    // bounded probe set; the TRUE literal pins the 0.5 recall target
    // passed explicitly at the QueryDefs call site (measured 0.62 on
    // the 2000-vector isotropic cap — the s2 contract: a construction
    // regression below target fails the hash gate)
    "s7_knn_recall" -> eq(raw"""
SELECT CAST(hits AS BIGINT) AS n_matched, CAST(tot AS BIGINT) AS n_total,
       round(hits / tot, 6) AS recall, TRUE AS meets_target
FROM (SELECT count(*) FILTER (WHERE gg.corpus_id IS NOT NULL) AS hits,
             count(*) AS tot
      FROM bfr LEFT JOIN gg
      ON gg.probe_id = bfr.probe_id AND gg.corpus_id = bfr.corpus_id) t""",
      extra = s7Ctes + "," + raw"""
bfr AS (SELECT probe_id, corpus_id FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS corpus_id, row_number() OVER (
      PARTITION BY a.vec_id ORDER BY
        round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / (na.nrm * nb.nrm), 6) DESC, b.vec_id) AS rank
    FROM emb2 a JOIN emb2 b ON b.vec_id <> a.vec_id
    JOIN nrm2 na ON na.vec_id = a.vec_id
    JOIN nrm2 nb ON nb.vec_id = b.vec_id
    WHERE a.vec_id < 20) r WHERE rank <= 10),
gg AS (SELECT src AS probe_id, dst AS corpus_id FROM g$S7Rounds
  WHERE src < 20)""".drop(1)),
    // t14: feature-hashing embedding — md5 bucket/sign arithmetic,
    // exact integer bucket sums, one sqrt + one rounded division per
    // coordinate, float-cast like the Spark output; zero vector (not
    // NaN) for bigram-less docs — mirrors TextOps.hashEmbed exactly
    "t14_hash_embed" -> dq(raw"""
SELECT doc_id, CAST(dim_i AS BIGINT) AS dim_i, val FROM hemb""",
      extra = hashEmbedCtes),
    "t14_embed_knn" -> dq(raw"""
SELECT probe_id, CAST(rank AS BIGINT) AS rank, corpus_id,
       round(cosine, 6) AS cosine
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
        ORDER BY round(cosine, 6) DESC, corpus_id) AS rank
      FROM (SELECT a.doc_id AS probe_id, b.doc_id AS corpus_id,
              list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
            FROM hvec a JOIN hvec b ON b.doc_id <> a.doc_id
            WHERE a.doc_id < 5) s) r
WHERE rank <= 5""",
      extra = hashEmbedCtes + "," + raw"""
hvec AS (SELECT doc_id, list(val ORDER BY dim_i) AS v,
    sqrt(sum(val * val)) AS nrm
  FROM hemb GROUP BY doc_id
  HAVING sum(val * val) > 0)""".drop(1)),
    "r1_bm25" -> r1Bm25Sql,
    // the compacted-segment serve is pinned against r1's oracle
    // VERBATIM — compaction ≡ batch build for the lexical index
    "r6_bm25_compacted" -> r1Bm25Sql,
    // e13 streamed segments == the batch per-document postings (pure
    // per-document function; batch splits cannot change the multiset)
    "e13_stream_bm25_ingest" -> dq(raw"""
SELECT t.doc_id, t.term, CAST(t.tf AS BIGINT) AS tf,
       CAST(d.dl AS BIGINT) AS dl
FROM (SELECT doc_id, token AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS token FROM toks) u
      GROUP BY doc_id, token) t
JOIN (SELECT doc_id, len(toks) AS dl FROM toks) d ON d.doc_id = t.doc_id
UNION ALL
SELECT doc_id, NULL AS term, CAST(0 AS BIGINT) AS tf,
       CAST(0 AS BIGINT) AS dl
FROM toks WHERE len(toks) = 0"""),
    // e15 streamed band segments == batch lshBands (per-document-pure
    // like e13's postings). OWN CTE chain rather than lshCandCtes'
    // `bands`: the shared `sh` CTE leaves array_to_string([]) NULL for
    // zero-token docs where the engine's concat_ws gives '' — invisible
    // in d2's PAIR form (a singleton band_hash pairs with nothing
    // either way) but e15/v2 pin the band rows DIRECTLY, so the
    // empty-doc shingle must be the engine's '' exactly
    "e15_stream_band_ingest" -> dq(
      "SELECT doc_id, CAST(t.b AS BIGINT) AS band,\n" +
      "       md5(array_to_string(sig[t.b*4+1:t.b*4+4], '|')) AS band_hash\n" +
      "FROM sigE, (SELECT unnest([0,1,2,3]) AS b) t",
      extra = bandChainCtes("toks")),
    // r4 RM3-style PRF: pass-1 feedback docs = lex rank<=10, candidate
    // terms score Σ tf·idf (4 dp, original terms excluded), top-5 join
    // the query, pass 2 re-runs the bm25 chain over qt1 — mirrors
    // Retrieval.prfExpand stage for stage
    "r4_prf_expand" -> dq(raw"""
SELECT probe_id, CAST(rank AS BIGINT) AS rank, doc_id, score
FROM (SELECT probe_id, doc_id, score, row_number() OVER (
    PARTITION BY probe_id ORDER BY score DESC, doc_id) AS rank
  FROM bsc2) r
WHERE rank <= 20""",
      extra = bm25Ctes + "," + raw"""
p1 AS (SELECT probe_id, doc_id FROM lex WHERE lex_rank <= 10),
xc AS (SELECT p.probe_id, t.term,
    round(sum(ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) * t.tf), 4)
      AS xscore
  FROM p1 p
  JOIN tfr t ON t.doc_id = p.doc_id
  JOIN dfr d ON d.term = t.term
  CROSS JOIN st
  WHERE NOT EXISTS (SELECT 1 FROM qt q
    WHERE q.probe_id = p.probe_id AND q.term = t.term)
  GROUP BY p.probe_id, t.term),
xt AS (SELECT probe_id, term FROM (
    SELECT probe_id, term, row_number() OVER (PARTITION BY probe_id
      ORDER BY xscore DESC, term) AS rn FROM xc) t WHERE rn <= 5),
qt1 AS (SELECT probe_id, term FROM qt
  UNION SELECT probe_id, term FROM xt),
bsc2 AS (SELECT q.probe_id, tfr.doc_id,
    round(sum(ln(1.0 + (st.n - dfr.df + 0.5) / (dfr.df + 0.5))
        * tfr.tf * 2.2
        / (tfr.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 4) AS score
  FROM qt1 q
  JOIN tfr ON tfr.term = q.term AND tfr.doc_id <> q.probe_id
  JOIN dfr ON dfr.term = q.term
  JOIN dl ON dl.doc_id = tfr.doc_id
  CROSS JOIN st
  GROUP BY q.probe_id, tfr.doc_id)""".drop(1)),
    // RRF sums at most two exact small rationals in a fixed operand
    // order — bit-identical in any engine — rounded at 6 dp before
    // the fused ranking; leg ranks ride along (NULL = leg missed)
    "r2_hybrid_rrf" -> dq(raw"""
SELECT probe_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf,
       lex_rank, vec_rank
FROM (SELECT probe_id, doc_id, rrf, lex_rank, vec_rank,
    row_number() OVER (PARTITION BY probe_id
      ORDER BY rrf DESC, doc_id) AS rank FROM fj) r
WHERE rank <= 10""",
      extra = bm25Ctes + "," + raw"""
dims AS (SELECT unnest(generate_series(1, 64)) AS i),
vexp AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, dims),
norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM vexp GROUP BY vec_id),
vec AS (SELECT probe_id, corpus_id AS doc_id,
    CAST(rank AS BIGINT) AS vec_rank FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS corpus_id, row_number() OVER (
      PARTITION BY a.vec_id ORDER BY
        round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / (na.nrm * nb.nrm), 6) DESC, b.vec_id) AS rank
    FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
    JOIN norms na ON na.vec_id = a.vec_id
    JOIN norms nb ON nb.vec_id = b.vec_id
    WHERE a.vec_id < 5) r WHERE rank <= 20),
fj AS (SELECT coalesce(l.probe_id, v.probe_id) AS probe_id,
    coalesce(l.doc_id, v.doc_id) AS doc_id, l.lex_rank, v.vec_rank,
    round(coalesce(1.0 / (60 + l.lex_rank), 0.0)
        + coalesce(1.0 / (60 + v.vec_rank), 0.0), 6) AS rrf
  FROM lex l FULL OUTER JOIN vec v
  ON v.probe_id = l.probe_id AND v.doc_id = l.doc_id)""".drop(1)))

  // ------------------------------------- w-family: as-of + sketch certs
  /** The certificate lanes pin the EXACT side plus a literal TRUE for
    * the approximation's bound check (the engine measures the bound;
    * the oracle cannot reproduce sketch internals) — the same contract
    * as the ANN recall certificates. w1's oracle is the naive
    * range-join as-of (|probes|×|matching refs| per user) that the
    * engine's single-sort union form replaces at scale. */
  private val asofSql: String = raw"""
SELECT event_id, user_id, ts, asof_ref_id, asof_ref_value FROM (
  SELECT e.event_id, e.user_id, e.ts,
         p.event_id AS asof_ref_id, p.value AS asof_ref_value,
         row_number() OVER (PARTITION BY e.event_id
           ORDER BY p.ts DESC, p.event_id DESC) AS rn
  FROM events e LEFT JOIN
       (SELECT * FROM events WHERE event_type = 'purchase') p
       ON p.user_id = e.user_id AND p.ts <= e.ts
  WHERE e.event_type <> 'purchase') t WHERE rn = 1"""

  val sketches: Map[String, String] = Map(
    "w1_asof_join" -> asofSql,
    // the stateful stream twin pins against the batch as-of VERBATIM
    // (in-order micro-batches ⇒ identical enrichment)
    "e14_stream_asof" -> asofSql,
    "w2_hll_distinct" -> raw"""
SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS within_tol
FROM events GROUP BY event_type""",
    // e17 serves the SAME certificate from streamed-and-merged HLL
    // segment state — register max-merge makes the micro-batch split
    // immaterial, so w2's oracle pins it verbatim
    "e17_stream_hll_ingest" -> raw"""
SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS within_tol
FROM events GROUP BY event_type""",
    "w3_quantile_cert" -> raw"""
WITH ex AS (SELECT quantile_cont(l_quantity, [0.25, 0.5, 0.75, 0.9]) AS exs,
                   count(*) AS n FROM lineitem)
SELECT CAST([0.25, 0.5, 0.75, 0.9][i] AS DOUBLE) AS q,
       round(exs[i], 4) AS q_exact, n AS n_total, TRUE AS within_tol
FROM ex, (SELECT unnest(generate_series(1, 4)) AS i) t""",
    "w4_cms_heavy_hitters" -> dq(raw"""
SELECT CAST(rn AS BIGINT) AS rank, token, n_exact, TRUE AS within_bound
FROM (SELECT token, n_exact,
        row_number() OVER (ORDER BY n_exact DESC, token) AS rn
      FROM (SELECT token, count(*) AS n_exact FROM
              (SELECT unnest(toks) AS token FROM toks) u
            GROUP BY token) c) r
WHERE rn <= 20"""))

  val all: Map[String, String] =
    graph ++ docs ++ embeddings ++ misc ++ randomizeOracles ++ readers ++
      distRegime ++ layouts ++ knnRetrieval ++ sketches
}
