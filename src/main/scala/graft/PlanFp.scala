package graft

import org.apache.spark.sql.DataFrame

/** Plan-fingerprint canonicalization, shared by [[Bench]] (per-round
  * artifacts), [[Explain]] (the plan dumps) and specs.
  * [[fingerprintOpt]] canonicalizes the OPTIMIZED logical plan,
  * normalized until it is a pure function of code + input schema: it
  * adjudicates "plan changed vs host noise" between runs, so every
  * JVM-session-assigned id class it still leaks is a bug (r10/r11:
  * lambda identities, commutative-operand hash ordering,
  * InMemoryRelation runtime subtrees, GT/LT canonicalization
  * direction, globalRank's literal offset maps — all found by diffing
  * flapped texts and normalized here). The physical plan has no fp:
  * its canonical text kept session counters and hash-ordered operands,
  * so two runs of one commit disagreed on ~70 of 431 queries.
  */
object PlanFp {

  /** Sort each multicommutativeop's top-level operand list textually
    * (recursing first, so nested chains sort before their parents) —
    * canonicalization orders commutative chains by child hashCode and
    * a ScalaUDF's hashCode is JVM-identity-based. */
  private[graft] def sortCommutative(text: String): String = {
    val marker = "multicommutativeop("
    val sb = new StringBuilder
    var i = 0
    while (i < text.length) {
      val at = text.indexOf(marker, i)
      if (at < 0) { sb.append(text.substring(i)); i = text.length }
      else {
        sb.append(text.substring(i, at + marker.length))
        var depth = 1; var j = at + marker.length
        while (j < text.length && depth > 0) {
          val c = text.charAt(j)
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
          j += 1
        }
        val inner = text.substring(at + marker.length, j - 1)
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        var d = 0; var start = 0; var k = 0
        while (k < inner.length) {
          val c = inner.charAt(k)
          if (c == '(') d += 1 else if (c == ')') d -= 1
          else if (c == ',' && d == 0) { parts += inner.substring(start, k); start = k + 1 }
          k += 1
        }
        parts += inner.substring(start)
        sb.append(parts.map(p => sortCommutative(p.trim)).sorted.mkString(", "))
          .append(')')
        i = j
      }
    }
    sb.toString
  }

  /** RewriteDistinctAggregates assigns each distinct-aggregate group
    * its gid by HashMap iteration order over expression SETS — i.e.
    * exprId-hash order, which varies with session construction count —
    * so a query with two `countDistinct`s can swap which column is
    * gid 1 vs gid 2 between identical-code runs, flipping both the
    * Expand projection rows and every `FILTER (WHERE (g = gid))`
    * literal (r12 verdict #7: `ts_corpus_profile` and
    * `er_cluster_stability` flapped exactly so — diffed texts differ
    * ONLY in the 1↔2 swap). Normalize the canonical TEXT: blank the
    * gid filter literals and sort Expand projection rows AND the
    * elements within each row (each distinct group also owns a
    * projection slot assigned in gid order) with bare integer
    * elements blanked. Narrow documented blind spot (same
    * class as the map(*) elision): a deliberate change ONLY to a
    * grouping-set spec literal or to Expand row order won't move this
    * fp — diff the [[Explain]] dumps (`.opt.txt` and `.txt`) to see
    * one. */
  private[graft] def normalizeDistinctGids(text: String): String = {
    // the literals are gids only under RewriteDistinctAggregates'
    // Expand; without one, FILTER (WHERE (<int> = col)) is a user's own
    // aggregate filter and must stay in the fp
    val gidFiltered = if (!text.contains("Expand [")) text else text.replaceAll(
      "FILTER \\(WHERE \\(\\d+ = none#\\*\\)\\)",
      "FILTER (WHERE (gid = none#*))")
    val marker = "Expand [["
    val sb = new StringBuilder
    var i = 0
    while (i < gidFiltered.length) {
      val at = gidFiltered.indexOf(marker, i)
      if (at < 0) { sb.append(gidFiltered.substring(i)); i = gidFiltered.length }
      else {
        // bracket-match the full projection list: Expand [[r1], [r2], …]
        sb.append(gidFiltered.substring(i, at + "Expand ".length))
        var depth = 0; var j = at + "Expand ".length
        while (j < gidFiltered.length &&
            (depth > 0 || j == at + "Expand ".length)) {
          val c = gidFiltered.charAt(j)
          if (c == '[') depth += 1 else if (c == ']') depth -= 1
          j += 1
        }
        val inner = gidFiltered.substring(at + "Expand [".length, j - 1)
        // split top-level rows "[…], […]"
        val rows = scala.collection.mutable.ArrayBuffer.empty[String]
        var d = 0; var start = 0; var k = 0
        while (k < inner.length) {
          val c = inner.charAt(k)
          if (c == '[') d += 1 else if (c == ']') d -= 1
          else if (c == ',' && d == 0) { rows += inner.substring(start, k); start = k + 1 }
          k += 1
        }
        rows += inner.substring(start)
        val normRows = rows.map { r =>
          val body = r.trim.stripPrefix("[").stripSuffix("]")
          val elems = scala.collection.mutable.ArrayBuffer.empty[String]
          var dd = 0; var s0 = 0; var kk = 0
          while (kk < body.length) {
            val c = body.charAt(kk)
            if (c == '(' || c == '[') dd += 1
            else if (c == ')' || c == ']') dd -= 1
            else if (c == ',' && dd == 0) { elems += body.substring(s0, kk); s0 = kk + 1 }
            kk += 1
          }
          elems += body.substring(s0)
          // sort WITHIN the row too: each distinct group also owns a
          // projection SLOT assigned in gid order, so the swapped
          // sessions put the same expression in different columns
          "[" + elems.map { e =>
            val t = e.trim
            if (t.matches("\\d+")) "gidlit" else t
          }.sorted.mkString(", ") + "]"
        }.sorted
        sb.append("[").append(normRows.mkString(", ")).append("]")
        i = j
      }
    }
    sb.toString
  }

  /** The normalized text [[fingerprintOpt]] hashes — exposed so a
    * flapping fp can be diffed directly ([[Explain]]'s `.opt.txt`). */
  def canonOptText(df: DataFrame): String = {
    // Builder-internal persist() embeds an InMemoryRelation whose
    // cached PHYSICAL subtree carries live (un-canonicalized)
    // exprIds, plan/rdd ids — and, once anything has executed
    // (queries with eager localCheckpoints run jobs during
    // CONSTRUCTION), the AQE-FINALIZED stage tree (QueryStage
    // wrappers, runtime Build side): pure runtime state that
    // flapped gx_louvain's fp between identical-code runs. Replace
    // the whole node with a stable LocalRelation leaf of the same
    // schema — the surrounding LOGICAL structure is what this fp
    // adjudicates; the cached subtree's own shape is execution
    // detail. (Narrow blind spot, documented: a change INSIDE a
    // persisted subtree alone won't move this fp — only a plan dump
    // shows it.)
    val stableOpt = df.queryExecution.optimizedPlan.transform {
      case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(imr.output)
    }
    // Canonicalization orders commutative operands by hashCode and
    // a ScalaUDF's hashCode is JVM-identity-based, so any
    // UDF-bearing AND/OR/arith chain prints in per-session order
    // (ts_holt_linear's binary `x AND isnotnull(UDF(...))` swapped
    // sides between identical-code runs). Re-sort commutative
    // operands by their canonical STRING, bottom-up so parents
    // compare already-sorted children. Print-only copy — never
    // evaluated.
    import org.apache.spark.sql.catalyst.expressions.{Add, And, EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Multiply, MultiCommutativeOp, Or}
    val sortedPlan = stableOpt.canonicalized.transformUp {
      case p => p.transformExpressionsUp {
        // comparisons canonicalize direction by child hashCode too:
        // one session keeps `size(UDF(..)) > 0`, the next prints
        // `0 < size(UDF(..))` — force every GT(E) to its LT(E) form
        case GreaterThan(l, r) => LessThan(r, l)
        case GreaterThanOrEqual(l, r) => LessThanOrEqual(r, l)
        case e @ (_: And | _: Or | _: Add | _: Multiply | _: EqualTo
                  | _: MultiCommutativeOp) =>
          // sort by a NORMALIZED key: this runs before the text-level
          // @hash/#id scrubs, so an operand whose rendering embeds a
          // lambda/object identity would otherwise order per-session
          val sorted = e.children.sortBy(_.toString
            .replaceAll("\\$\\$Lambda\\$?\\d*/0x[0-9a-f]+", "\\$\\$Lambda")
            .replaceAll("@[0-9a-f]{6,}", "@*")
            .replaceAll("#\\d+", "#*"))
          if (sorted == e.children) e else e.withNewChildren(sorted)
      }
    }
    val canon = sortedPlan.treeString
      .replaceAll("#\\d+", "#*")          // exprIds (belt-and-braces)
      .replaceAll("plan_id=\\d+", "plan_id=*")
      .replaceAll("cachedrdd_\\d+", "cachedrdd_*")
      .replaceAll("\\$\\$Lambda\\$?\\d*/0x[0-9a-f]+", "\\$\\$Lambda")
      .replaceAll("@[0-9a-f]{6,}", "@*") // JVM-assigned lambda ids
      .replaceAll("\\bExistingRDD\\b.*", "ExistingRDD *") // RDD ids from localCheckpoint scans
      .replaceAll("\\bLogicalRDD\\b.*", "LogicalRDD *")
      // globalRank embeds its per-shard rank offsets as a literal
      // map; the offsets depend on runtime shard boundaries (AQE
      // coalescing) and vary between identical-code runs while the
      // ranks they produce stay exact — implementation detail, not
      // plan shape. Elide literal map CONTENTS (narrow blind spot:
      // a deliberate change to literal map values alone won't move
      // this fp).
      .replaceAll("map\\(keys: \\[[^\\]]*\\], values: \\[[^\\]]*\\]\\)", "map(*)")
    sortCommutative(normalizeDistinctGids(canon))
  }

  /** Composition-stable optimized-plan fp (12 hex chars). */
  def fingerprintOpt(df: DataFrame): String =
    try md5_12(canonOptText(df))
    catch { case _: Throwable => "err" }

  private[graft] def md5_12(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8"))
      .take(6).map(b => f"${b & 0xff}%02x").mkString
}
