package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** SQL surface for the as-of join (Spark has none; the reference's users
  * write the events⋈pulses correlation by hand every time —
  * spark_events_by_time_parquet.py:205-243). Adds, by rewriting to stock
  * Spark SQL before delegation:
  *
  * {{{
  *   <left> ASOF JOIN <right>
  *     MATCH_CONDITION ( <leftTimeCol> >= <rightTimeCol> )   -- backward
  *     -- or: MATCH_CONDITION ( <leftTimeCol> <= <rightTimeCol> ) forward
  *     [USING (k1, k2, ...)]      -- equality keys joined alongside time
  *     [WITHIN <bucketWidth>]     -- time-bucket width (integer, same
  *                                --  unit as the time columns); default
  *                                --  spark.graft.asof.bucketWidth
  * }}}
  *
  * (Snowflake's ASOF JOIN grammar, restricted to `>=` — most recent right
  * row at-or-before the left time — and `<=` — earliest right row
  * at-or-after it. The forward rewrite mirrors the backward one with
  * LAG/(prev, rt] intervals and a per-key MIN(left)-1 cap.)
  * The rewrite produces the same bucketed-interval formulation as
  * [[graft.ops.AsOfJoin.backward]]: intervals from a keyed LEAD window,
  * exploded onto fixed-width buckets, then a plain equi join — never a
  * range nested-loop. Limitations: left/right must be table/view
  * identifiers or parenthesized `(SELECT ...)` subqueries (lifted before
  * the rewrite and substituted back — table-valued functions and LATERAL
  * relations remain unsupported), time columns are named (qualifiers are
  * stripped), and the output carries both sides' columns unqualified
  * (USING keys are emitted once). Keyless ASOF (no USING) is rewritten scale-safely too: the LEAD
  * window is partitioned by the time bucket, and each bucket's last row
  * takes the next non-empty bucket's MIN time from a bucket-level
  * aggregate — the only single-partition window runs over that aggregate
  * (one row per non-empty bucket), never over the data. Same cost class
  * as the Scala API's range-partitioned graft.ops.Ranking.globalLead.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  private def rewrite(sqlText: String): String =
    AsofSqlRewrite(session, sqlText)

  // time travel over registered IcebergLite names resolves at parse
  // time (Spark's analyzer refuses it on temp views), and the target of
  // an INSERT, TRUNCATE, DELETE, UPDATE or MERGE binds to the name's
  // table so Spark's own statement plans it; see
  // graft.plans.IcebergTimeTravelRewrite / IcebergWriteRewrite
  override def parsePlan(sqlText: String): LogicalPlan =
    graft.plans.IcebergWriteRewrite(session,
      graft.plans.IcebergTimeTravelRewrite(session,
        delegate.parsePlan(rewrite(sqlText))))
  override def parseQuery(sqlText: String): LogicalPlan =
    graft.plans.IcebergTimeTravelRewrite(session,
      delegate.parseQuery(rewrite(sqlText)))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object AsofSqlRewrite {

  val BucketConf = "spark.graft.asof.bucketWidth"

  // <l> [[AS] la] ASOF JOIN <r> [[AS] ra] MATCH_CONDITION
  //   ( [q.]lt >= [q.]rt )   (or <=)
  //   [USING (k, ...)] [WITHIN n]
  // Table names may be dot-qualified (db.tbl, global_temp.v, catalog
  // paths) — the qualified name is interpolated verbatim into the
  // rewritten FROM clauses. Either relation may carry an alias (AS
  // optional); aliases are accepted as MATCH_CONDITION qualifiers and
  // consumed — the join's output columns are UNQUALIFIED, so the
  // enclosing query must reference them without the alias prefix (the
  // two sides collapse into one projection; there is no per-side scope
  // to qualify into).
  // the keyword guard keeps the optional-alias group from mis-anchoring
  // one word early (e.g. reading "FROM events ASOF JOIN" as table FROM
  // aliased events)
  private val Pattern =
    ("""(?is)\b(?!(?:FROM|JOIN|SELECT|WHERE|AS|ON|AND|OR|NOT|UNION|ALL|WITH|CROSS|INNER|LEFT|RIGHT|FULL|LATERAL|ASOF)\b)""" +
     """((?:\w+\.)*\w+)(?:\s+(?:AS\s+)?(?!ASOF\b)(\w+))?""" +
     """\s+ASOF\s+JOIN\s+""" +
     """((?:\w+\.)*\w+)(?:\s+(?:AS\s+)?(?!MATCH_CONDITION\b)(\w+))?""" +
     """\s+MATCH_CONDITION\s*""" +
     """\(\s*(?:\w+\.)?(\w+)\s*(>=|<=)\s*(?:\w+\.)?(\w+)\s*\)""" +
     """(?:\s+USING\s*\(([^)]*)\))?""" +
     """(?:\s+WITHIN\s+(\d+))?""").r

  private val AsofJoinAnywhere = """(?is)\bASOF\s+JOIN\b""".r

  /** Length-preserving mask of non-code text: the CONTENTS of
    * single-quoted literals ('' escape honored), double-quoted and
    * backtick-quoted identifiers, and line (--) / block (slash-star)
    * comments become spaces, in ONE left-to-right pass — the words
    * "ASOF JOIN" inside any of them are data, not a join. A sequential
    * regex scrub got the ordering wrong: quote-blanking ran before
    * comment-stripping, so an apostrophe inside a line comment
    * (`-- don't`) opened a phantom string that could swallow a real
    * unsupported ASOF JOIN and skip the friendly error. Offsets are
    * preserved so [[liftSubqueries]] can balance parens on the mask and
    * slice the original text by the same positions.
    */
  private[sql] def masked(sql: String): String = {
    val a = sql.toCharArray
    val n = a.length
    var i = 0
    def blank(j: Int): Unit = if (a(j) != '\n') a(j) = ' '
    def blankDelimitedBy(close: Char): Unit = {
      i += 1
      while (i < n && a(i) != close) { blank(i); i += 1 }
      if (i < n) i += 1 // keep the closing delimiter
    }
    while (i < n) {
      a(i) match {
        case '\'' =>
          i += 1
          var open = true
          while (i < n && open) {
            if (a(i) == '\'') {
              // '' is an escaped quote INSIDE the literal
              if (i + 1 < n && a(i + 1) == '\'') { blank(i); blank(i + 1); i += 2 }
              else { open = false; i += 1 }
            } else { blank(i); i += 1 }
          }
        case '"' => blankDelimitedBy('"')
        case '`' => blankDelimitedBy('`')
        case '-' if i + 1 < n && a(i + 1) == '-' =>
          while (i < n && a(i) != '\n') { a(i) = ' '; i += 1 }
        case '/' if i + 1 < n && a(i + 1) == '*' =>
          a(i) = ' '; a(i + 1) = ' '; i += 2
          var open = true
          while (i < n && open) {
            if (a(i) == '*' && i + 1 < n && a(i + 1) == '/') {
              a(i) = ' '; a(i + 1) = ' '; i += 2; open = false
            } else { blank(i); i += 1 }
          }
        case _ => i += 1
      }
    }
    new String(a)
  }

  private val SqPrefix = "__graft_asof_sq"

  /** Lift parenthesized `(SELECT ...)` / `(WITH ...)` relations directly
    * adjacent to an ASOF JOIN into generated placeholder names so the
    * identifier-shaped [[Pattern]] can consume the join; [[apply]]
    * substitutes each body back afterwards — recursively rewritten, so a
    * subquery containing its own ASOF JOIN works too. Paren balancing
    * runs on the [[masked]] copy (parens inside strings/comments are
    * blanked), and spans slice the ORIGINAL text. Non-SELECT paren
    * groups (e.g. a table-valued function) are left alone and fall
    * through to the clear unsupported-shape error.
    */
  private def liftSubqueries(sql: String): (String, List[(String, String)]) = {
    val m = masked(sql)
    val n = m.length
    def closeOf(open: Int): Int = {
      var depth = 0; var i = open
      while (i < n) {
        if (m.charAt(i) == '(') depth += 1
        else if (m.charAt(i) == ')') { depth -= 1; if (depth == 0) return i }
        i += 1
      }
      -1
    }
    def openOf(close: Int): Int = {
      var depth = 0; var i = close
      while (i >= 0) {
        if (m.charAt(i) == ')') depth += 1
        else if (m.charAt(i) == '(') { depth -= 1; if (depth == 0) return i }
        i -= 1
      }
      -1
    }
    def isSelectBody(open: Int, close: Int): Boolean = {
      val body = m.substring(open + 1, close).trim.toUpperCase
      body.startsWith("SELECT") || body.startsWith("WITH")
    }
    def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'
    val spans = scala.collection.mutable.ListBuffer.empty[(Int, Int, String)]
    var nextId = 0
    for (mm <- AsofJoinAnywhere.findAllMatchIn(m)) {
      // right side: ASOF JOIN ( SELECT ... )
      var j = mm.end
      while (j < n && m.charAt(j).isWhitespace) j += 1
      if (j < n && m.charAt(j) == '(') {
        val c = closeOf(j)
        if (c > 0 && isSelectBody(j, c)) { spans += ((j, c + 1, s"$SqPrefix$nextId")); nextId += 1 }
      }
      // left side: ( SELECT ... ) [AS] [alias] ASOF JOIN — scan back over
      // up to two word tokens (alias, AS) to the closing paren
      var i = mm.start - 1
      var words = 0
      var scanning = true
      while (scanning) {
        while (i >= 0 && m.charAt(i).isWhitespace) i -= 1
        if (i >= 0 && isWordChar(m.charAt(i)) && words < 2) {
          while (i >= 0 && isWordChar(m.charAt(i))) i -= 1
          words += 1
        } else scanning = false
      }
      if (i >= 0 && m.charAt(i) == ')') {
        val o = openOf(i)
        if (o >= 0 && isSelectBody(o, i)) { spans += ((o, i + 1, s"$SqPrefix$nextId")); nextId += 1 }
      }
    }
    var out = sql
    val subs = scala.collection.mutable.ListBuffer.empty[(String, String)]
    for ((from, until, name) <- spans.sortBy(-_._1)) {
      subs += ((name, sql.substring(from, until)))
      out = out.substring(0, from) + name + out.substring(until)
    }
    (out, subs.toList)
  }

  def apply(session: SparkSession, sqlText: String): String =
    if (!sqlText.toUpperCase.contains("ASOF")) sqlText
    else {
      val (lifted, subs) = liftSubqueries(sqlText)
      val out = Pattern.replaceAllIn(lifted, m =>
        scala.util.matching.Regex.quoteReplacement(expand(session, m)))
      // an ASOF JOIN the pattern could not consume would otherwise fall
      // through to Spark's parser and die with a generic syntax error —
      // name the graft-side limitation instead
      if (AsofJoinAnywhere.findFirstIn(masked(out)).isDefined)
        throw new IllegalArgumentException(
          "graft ASOF JOIN: unsupported shape. Supported: " +
            "<table | (SELECT ...)> [[AS] alias] ASOF JOIN " +
            "<table | (SELECT ...)> [[AS] alias] " +
            "MATCH_CONDITION(lt >= rt | lt <= rt) [USING (k, ...)] " +
            "[WITHIN n] with plain or dot-qualified table/view names or " +
            "parenthesized SELECT subqueries. Other relation shapes " +
            "(table-valued functions, LATERAL) are not supported — " +
            "register them as a temp view first " +
            "(df.createOrReplaceTempView) and join the view.")
      // substitute lifted subquery bodies back, each itself rewritten
      subs.foldLeft(out) { case (acc, (name, body)) =>
        acc.replace(name, apply(session, body))
      }
    }

  private def expand(session: SparkSession,
                     m: scala.util.matching.Regex.Match): String = {
    val (l, r, lt, op, rt) =
      (m.group(1), m.group(3), m.group(5), m.group(6), m.group(7))
    val forward = op == "<="
    val keys = Option(m.group(8)).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val width = Option(m.group(9)).map(_.toLong).getOrElse(
      session.conf.get(BucketConf, "3600").toLong)
    require(width > 0, s"ASOF WITHIN must be positive, got $width")

    val keyEquality =
      keys.map(k => s"AND __l.$k = __r.$k ").mkString
    val keyList = keys.mkString(", ")
    val partitionBy =
      if (keys.isEmpty) "" else keys.mkString("PARTITION BY ", ", ", " ")
    val on = keys.map(k => s"__rr.$k = __gm.$k").mkString(" AND ")

    // Backward (lt >= rt): each right row owns the interval
    // [rt, next_rt), intervals from LEAD; the open LAST interval is
    // capped at max(left)+1. Forward (lt <= rt): each right row owns
    // (prev_rt, rt], intervals from LAG; the open FIRST interval is
    // capped at min(left)-1. Caps are PER KEY when USING keys are
    // present (a global cap makes every key's open interval span the
    // whole corpus timeline and explode; see AsOfJoin.backward).
    // Intervals outside every left row are dropped, each interval
    // explodes onto its fixed-width buckets, and the join is a plain
    // equi join on the bucket.
    //
    // Keyless: a bare `LEAD/LAG(rt) OVER (ORDER BY rt)` would funnel the
    // whole right side into ONE partition. Instead the window is
    // partitioned by the row's time bucket, and the bucket-boundary row
    // is stitched from the neighboring NON-EMPTY bucket's MIN (backward)
    // / MAX (forward) via a bucket-level aggregate. The only
    // single-partition window runs over that aggregate (<= one row per
    // non-empty bucket, partial-agg'd map-side), never over the data:
    // the same stitch cost class as Ranking.globalLead's boundary
    // exchange.
    val innerRight =
      if (!forward && keys.isEmpty)
        s"""SELECT __rr.* EXCEPT (__gae0, __gb),
                 coalesce(__gae0, __nx.__gnext,
                          (SELECT MAX($lt) + 1 FROM $l)) AS __gae
          FROM (SELECT *, CAST($rt DIV $width AS BIGINT) AS __gb,
                       LEAD($rt) OVER (PARTITION BY CAST($rt DIV $width AS BIGINT)
                                       ORDER BY $rt) AS __gae0
                FROM $r) AS __rr
          LEFT JOIN (SELECT __gb, LEAD(__gmn) OVER (ORDER BY __gb) AS __gnext
                     FROM (SELECT CAST($rt DIV $width AS BIGINT) AS __gb,
                                  MIN($rt) AS __gmn
                           FROM $r GROUP BY 1) AS __gbm) AS __nx
            ON __rr.__gb = __nx.__gb"""
      else if (!forward)
        s"""SELECT __rr.* EXCEPT (__gae0),
                 coalesce(__gae0, __gm.__gcap) AS __gae
          FROM (SELECT *, LEAD($rt) OVER (${partitionBy}ORDER BY $rt) AS __gae0
                FROM $r) AS __rr
          LEFT JOIN (SELECT $keyList, MAX($lt) + 1 AS __gcap
                     FROM $l GROUP BY $keyList) AS __gm ON $on"""
      else if (keys.isEmpty)
        s"""SELECT __rr.* EXCEPT (__gas0, __gb),
                 coalesce(__gas0, __nx.__gprev,
                          (SELECT MIN($lt) - 1 FROM $l)) AS __gas
          FROM (SELECT *, CAST($rt DIV $width AS BIGINT) AS __gb,
                       LAG($rt) OVER (PARTITION BY CAST($rt DIV $width AS BIGINT)
                                      ORDER BY $rt) AS __gas0
                FROM $r) AS __rr
          LEFT JOIN (SELECT __gb, LAG(__gmx) OVER (ORDER BY __gb) AS __gprev
                     FROM (SELECT CAST($rt DIV $width AS BIGINT) AS __gb,
                                  MAX($rt) AS __gmx
                           FROM $r GROUP BY 1) AS __gbm) AS __nx
            ON __rr.__gb = __nx.__gb"""
      else
        s"""SELECT __rr.* EXCEPT (__gas0),
                 coalesce(__gas0, __gm.__gcap) AS __gas
          FROM (SELECT *, LAG($rt) OVER (${partitionBy}ORDER BY $rt) AS __gas0
                FROM $r) AS __rr
          LEFT JOIN (SELECT $keyList, MIN($lt) - 1 AS __gcap
                     FROM $l GROUP BY $keyList) AS __gm ON $on"""

    if (!forward) {
      // USING keys appear once (left side); helper cols never leak
      val exceptRight = (keys :+ "__gae" :+ "__gab").mkString(", ")
      s"""(
        SELECT __l.* EXCEPT (__gab), __r.* EXCEPT ($exceptRight)
        FROM (SELECT *, CAST($lt DIV $width AS BIGINT) AS __gab FROM $l) AS __l
        LEFT JOIN (
          SELECT *, explode(sequence(CAST($rt DIV $width AS BIGINT),
                                     CAST((__gae - 1) DIV $width AS BIGINT))) AS __gab
          FROM ($innerRight)
          WHERE $rt < __gae
        ) AS __r
        ON __l.__gab = __r.__gab AND __r.$rt <= __l.$lt AND __l.$lt < __r.__gae
           $keyEquality)"""
    } else {
      val exceptRight = (keys :+ "__gas" :+ "__gab").mkString(", ")
      s"""(
        SELECT __l.* EXCEPT (__gab), __r.* EXCEPT ($exceptRight)
        FROM (SELECT *, CAST($lt DIV $width AS BIGINT) AS __gab FROM $l) AS __l
        LEFT JOIN (
          SELECT *, explode(sequence(CAST((__gas + 1) DIV $width AS BIGINT),
                                     CAST($rt DIV $width AS BIGINT))) AS __gab
          FROM ($innerRight)
          WHERE $rt > __gas
        ) AS __r
        ON __l.__gab = __r.__gab AND __r.$rt >= __l.$lt AND __l.$lt > __r.__gas
           $keyEquality)"""
    }
  }
}
