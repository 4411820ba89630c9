package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Banded matrix profile (Yeh et al., ICDM'16) over the per-type
  * hourly count series — the all-pairs-subsequence readout behind
  * motif (most repeated pattern) and discord (most anomalous pattern)
  * discovery. Window length 24 h; for each position the nearest
  * neighbour is searched inside a ±[24, 72]-hour band (exclusion zone
  * = one full window, so trivial self-overlap never wins; the band
  * bound is what keeps per-position work O(band), the Sakoe–Chiba
  * discipline [[Dtw]] already uses).
  *
  * Scale shape: subsequence vectors come from ONE ranking-window
  * collect_list per series (no k-explosion), candidate pairs from a
  * 49-offset EXPLODE + equi-join on (type, position) — never a range
  * predicate the planner would turn into a nested loop — and the
  * distance is a row-local zip_with fold in exact integer arithmetic
  * (counts are integers, so d² sums are BIGINT-exact and the oracle
  * matches bit-for-bit; no z-normalization means no fp accumulation).
  * The readout is the top-3 motifs and top-3 discords per series —
  * bounded output however long the series grows.
  */
object MatrixProfile {

  private val W = 24 // subsequence length (one day)
  private val BAND = 72 // nearest-neighbour search horizon (three days)
  private val NPOS = 720 - W // last valid start position is 696

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "ts_matrix_profile",
      Some(s"""
        WITH cnt0 AS (
          SELECT event_type,
                 (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) // 3600000000 AS h,
                 COUNT(*) AS x
          FROM events GROUP BY 1, 2),
        -- mirror of the Spark-side raise_error guard: an event hour
        -- outside the fixed 720-hour window must FAIL here too, not
        -- silently fall out of the grid join (divergent failure
        -- behavior otherwise if the events table ever extends past
        -- 2024-01-01 + 720 h)
        cnt AS (
          SELECT event_type, h,
                 CASE WHEN h < 0 OR h >= 720
                      THEN CAST(error('ts_matrix_profile: hour outside the fixed 720-hour window: ' || h) AS BIGINT)
                      ELSE x END AS x
          FROM cnt0),
        grid AS (
          SELECT t.event_type, g.h, COALESCE(c.x, 0) AS x
          FROM (SELECT DISTINCT event_type FROM events) t
          CROSS JOIN (SELECT unnest(range(0, 720)) AS h) g
          LEFT JOIN cnt c ON c.event_type = t.event_type AND c.h = g.h),
        pair_d AS (
          SELECT g.event_type, p.i, p.i + d.d AS j,
                 CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS dist2
          FROM (SELECT unnest(range(0, ${NPOS + 1})) AS i) p
          CROSS JOIN (SELECT unnest(range($W, ${BAND + 1})) AS d) d
          CROSS JOIN (SELECT DISTINCT event_type FROM events) g
          CROSS JOIN (SELECT unnest(range(0, $W)) AS k) k
          JOIN grid a ON a.event_type = g.event_type AND a.h = p.i + k.k
          JOIN grid b ON b.event_type = g.event_type AND b.h = p.i + d.d + k.k
          WHERE p.i + d.d <= $NPOS
          GROUP BY 1, 2, 3),
        sym AS (
          SELECT event_type, i, j, dist2 FROM pair_d
          UNION ALL
          SELECT event_type, j, i, dist2 FROM pair_d),
        mp AS (
          SELECT event_type, i, dist2 AS mp, j AS nn FROM (
            SELECT event_type, i, j, dist2,
                   ROW_NUMBER() OVER (PARTITION BY event_type, i
                                      ORDER BY dist2, j) AS rn
            FROM sym)
          WHERE rn = 1),
        motif AS (
          SELECT event_type, 'motif' AS kind,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY mp, i) AS rank,
                 i, nn, mp
          FROM mp),
        discord AS (
          SELECT event_type, 'discord' AS kind,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY mp DESC, i) AS rank,
                 i, nn, mp
          FROM mp)
        SELECT event_type, kind, CAST(rank AS BIGINT) AS rank,
               CAST(i AS BIGINT) AS pos, CAST(nn AS BIGINT) AS nn_pos,
               mp AS dist2
        FROM (SELECT * FROM motif WHERE rank <= 3
              UNION ALL SELECT * FROM discord WHERE rank <= 3)
        ORDER BY event_type, kind, rank
      """.trim),
      (s, d) => {
        import s.implicits._
        val cnt = Hurst.hourlyCounts(events(s, d))
        val guarded = cnt.withColumn("x",
          when($"h" >= 0 && $"h" < 720, $"x")
            .otherwise(raise_error(concat(
              lit("ts_matrix_profile: hour outside the fixed 720-hour window: "),
              $"h".cast("string"))).cast("long")))
        val grid = events(s, d).select($"event_type").distinct()
          .crossJoin(s.range(0, 720).select($"id".as("h")))
          .join(guarded, Seq("event_type", "h"), "left")
          .select($"event_type", $"h", coalesce($"x", lit(0L)).as("x"))
        // subsequence vector per position: ONE ordered window per series
        val wWin = Window.partitionBy($"event_type").orderBy($"h")
          .rowsBetween(Window.currentRow, W - 1)
        val pos = grid
          .withColumn("win", collect_list($"x").over(wWin))
          .filter($"h" <= NPOS)
          .select($"event_type", $"h".as("i"), $"win")
          .localCheckpoint() // both join sides read it
        // banded candidates: 49-offset explode + EQUI-join on position.
        // The i-filter guards sequence(): for i > NPOS − W the start
        // exceeds the stop and Spark generates a DESCENDING sequence —
        // pairs inside the exclusion zone — instead of an empty one.
        val cand = pos
          .filter($"i" <= NPOS - W)
          .withColumn("j", explode(sequence($"i" + W, least($"i" + BAND, lit(NPOS.toLong)))))
          .select($"event_type", $"i", $"j", $"win".as("wa"))
          .join(pos.select($"event_type", $"i".as("j"), $"win".as("wb")),
            Seq("event_type", "j"))
        val dist = cand.select($"event_type", $"i", $"j",
          aggregate(zip_with($"wa", $"wb", (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, v) => acc + v).as("dist2"))
        val sym = dist.select($"event_type", $"i", $"j", $"dist2")
          .union(dist.select($"event_type", $"j".as("i"), $"i".as("j"), $"dist2"))
        val mp = sym.groupBy($"event_type", $"i")
          .agg(min($"dist2").as("mp"),
            min_by($"j", struct($"dist2", $"j")).as("nn"))
        val wmBase = Window.partitionBy($"event_type")
        val ranked = mp
          .withColumn("mrank", row_number().over(wmBase.orderBy($"mp", $"i")))
          .withColumn("drank", row_number().over(wmBase.orderBy($"mp".desc, $"i")))
        val motif = ranked.filter($"mrank" <= 3)
          .select($"event_type", lit("motif").as("kind"),
            $"mrank".cast("long").as("rank"), $"i", $"nn", $"mp")
        val discord = ranked.filter($"drank" <= 3)
          .select($"event_type", lit("discord").as("kind"),
            $"drank".cast("long").as("rank"), $"i", $"nn", $"mp")
        motif.union(discord)
          .select($"event_type", $"kind", $"rank",
            $"i".cast("long").as("pos"), $"nn".cast("long").as("nn_pos"),
            $"mp".as("dist2"))
          .orderBy($"event_type", $"kind", $"rank")
      }))
}
