package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pinot-SQL / legacy-PQL dialect front-end.
  *
  * Pinot users (and the BI connectors built on them) speak a dialect that
  * predates the multi-stage ANSI engine: the legacy `... GROUP BY col TOP n`
  * aggregation form (reference: /root/reference/Introduction.md:105, and
  * text-search-support.md:142's `GROUP BY dimensionCol3 TOP 2500`), query
  * `OPTION(key=value)` clauses (timestamp-index.md:50 `Option(timeoutMs=
  * 3000000)`), and Pinot function names (`DISTINCTCOUNTHLL`, `PERCENTILE95`,
  * `FIRSTWITHTIME`, `DATETIMECONVERT`, forward-index.md:214's
  * `DISTINCTCOUNT` family). `translate` re-expresses such a query string as
  * Spark SQL over the registered graft session — the translated query plans
  * through the normal session, so every transparent rewrite rule
  * (star-tree, timestamp/json/text index, denorm) still fires on it.
  *
  * Dialect semantics implemented:
  *   - `GROUP BY cols TOP n`: PQL returns the group keys plus the
  *     aggregates, ordered by the FIRST aggregate descending, limited to n
  *     groups. Pinot leaves tie order unspecified; this engine pins it
  *     (ties break on the group columns ascending) so results are
  *     deterministic and oracle-replayable.
  *   - group-by queries list only aggregates in SELECT; the group keys are
  *     implicit output columns. `translate` prepends any group expression
  *     not already present in the select list.
  *   - `OPTION(k=v, ...)` clauses are parsed out and returned in
  *     `Translated.options` (Pinot treats them as execution hints; the
  *     Spark session has its own equivalents, so they are recorded, not
  *     applied).
  *   - function aliases are rewritten argument-recursively (see
  *     `mapFunction`); `TEXT_MATCH`/`JSON_MATCH` need no rewriting — they
  *     resolve case-insensitively to the session functions registered by
  *     GraftExtensions.
  *   - double-quoted tokens are Pinot IDENTIFIERS and become backticked
  *     Spark identifiers; single-quoted strings pass through unchanged.
  *
  * Malformed input (unbalanced quotes/parens, `TOP` without `GROUP BY` or
  * alongside `ORDER BY`/`LIMIT`, bad `OPTION` pairs, bad function arity)
  * fails loudly with IllegalArgumentException — never a silently-wrong
  * translation.
  */
object PinotSql {

  /** A translated query: Spark SQL text + the parsed OPTION hints. */
  final case class Translated(sql: String, options: Map[String, String])

  /** Translate a Pinot-SQL/PQL query string to Spark SQL. */
  def translate(pql: String): Translated = {
    require(pql != null && pql.trim.nonEmpty, "empty query")
    val (noOpts, opts) = extractOptions(backtickIdentifiers(pql))
    checkBalancedParens(noOpts)
    val rewritten = rewriteFunctions(noOpts)
    Translated(rebuildClauses(rewritten), opts)
  }

  /** OPTION keys this engine APPLIES (not merely records), lowercased →
    * the rule-enable conf they scope. `useStarTree` is Pinot's own query
    * option for bypassing the star-tree index; the other four extend the
    * same convention to this engine's transparent index/view rules.
    * Every other option (timeoutMs, useMultistageEngine, …) is an
    * execution hint for a cluster this engine doesn't have — recorded in
    * `Translated.options`, intentionally not applied.
    */
  private val AppliedOptions: Map[String, String] = Map(
    "usestartree" -> "spark.graft.starTree.enabled",
    "usetimestampindex" -> "spark.graft.timestampIndex.enabled",
    "usejsonindex" -> "spark.graft.jsonIndex.enabled",
    "usetextindex" -> "spark.graft.termIndex.enabled",
    "usedenormview" -> "spark.graft.denorm.enabled")

  /** Translate and run against `spark` (tables must be registered, e.g.
    * via `graft.engine.Graft.registerTables`).
    *
    * Recognized OPTIONs are applied by pinning the OPTIMIZED plan inside
    * a scoped conf window: the rule-enable flag is set, the lazy
    * `optimizedPlan` is forced (rewrite rules read their flag at
    * apply-time, and QueryExecution caches the result), then the session
    * value is restored — so `OPTION(useStarTree=false)` affects exactly
    * this query, never the session or a concurrently-planned one in
    * another thread beyond the forcing window.
    */
  def sql(spark: SparkSession, pql: String): DataFrame = {
    val t = translate(pql)
    val applied = t.options.toSeq.flatMap { case (k, v) =>
      AppliedOptions.get(k.toLowerCase).map { conf =>
        require(v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
          s"OPTION $k expects true/false, got '$v'")
        conf -> v.toLowerCase
      }
    }
    if (applied.isEmpty) spark.sql(t.sql)
    else {
      val prev = applied.map { case (k, _) => k -> spark.conf.getOption(k) }
      applied.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val df = spark.sql(t.sql)
        df.queryExecution.optimizedPlan // force while the flags are scoped
        df
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  // ---------------------------------------------------------------- lexing

  /** Pinot double-quoted identifiers → Spark backticked identifiers.
    * Runs FIRST, with its own quote state machine, so double quotes
    * inside single-quoted strings (the JSON_MATCH condition syntax)
    * pass through untouched.
    */
  private def backtickIdentifiers(s: String): String = {
    val out = new StringBuilder
    var q: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (q == 0) {
        if (c == '"') { q = c; out.append('`') }
        else { if (c == '\'') q = c; out.append(c) }
      } else if (q == '\'') {
        out.append(c)
        if (c == '\'') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') {
            out.append('\''); i += 1
          } else q = 0
        }
      } else { // inside a double-quoted identifier
        if (c == '"') { q = 0; out.append('`') } else out.append(c)
      }
      i += 1
    }
    require(q == 0, s"unterminated quote in query: $s")
    out.toString
  }

  /** mask(i) = true when position i is inside a quoted region: single
    * quotes delimit strings ('' escapes), backticks delimit identifiers
    * (double quotes were already rewritten to backticks). Unterminated
    * quotes fail loudly.
    */
  private def quotedMask(s: String): Array[Boolean] = {
    val m = new Array[Boolean](s.length)
    var q: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (q == 0) {
        if (c == '\'' || c == '`') { q = c; m(i) = true }
      } else {
        m(i) = true
        if (c == q) {
          if (c == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') {
            i += 1; m(i) = true // '' escape stays inside the string
          } else q = 0
        }
      }
      i += 1
    }
    require(q == 0, s"unterminated quote in query: $s")
    m
  }

  /** Paren depth at each position (quoted regions contribute nothing). */
  private def depths(s: String, mask: Array[Boolean]): Array[Int] = {
    val d = new Array[Int](s.length)
    var depth = 0
    var i = 0
    while (i < s.length) {
      if (!mask(i)) {
        if (s.charAt(i) == '(') { d(i) = depth; depth += 1; i += 1 }
        else {
          if (s.charAt(i) == ')') {
            depth -= 1
            require(depth >= 0, s"unbalanced ')' in query: $s")
          }
          d(i) = depth; i += 1
        }
      } else { d(i) = depth; i += 1 }
    }
    d
  }

  private def checkBalancedParens(s: String): Unit = {
    val mask = quotedMask(s)
    var depth = 0
    var i = 0
    while (i < s.length) {
      if (!mask(i)) {
        if (s.charAt(i) == '(') depth += 1
        else if (s.charAt(i) == ')') {
          depth -= 1
          require(depth >= 0, s"unbalanced ')' in query: $s")
        }
      }
      i += 1
    }
    require(depth == 0, s"unbalanced '(' in query: $s")
  }

  /** Index of the ')' matching the '(' at `open`. */
  private def matchingParen(s: String, mask: Array[Boolean], open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      if (!mask(i)) {
        if (s.charAt(i) == '(') depth += 1
        else if (s.charAt(i) == ')') {
          depth -= 1
          if (depth == 0) return i
        }
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced '(' at position $open in: $s")
  }

  /** Split on top-level (depth-0, unquoted) commas. */
  private def splitTopLevel(s: String): Seq[String] = {
    val mask = quotedMask(s)
    val d = depths(s, mask)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var start = 0
    var i = 0
    while (i < s.length) {
      if (!mask(i) && d(i) == 0 && s.charAt(i) == ',') {
        out += s.substring(start, i); start = i + 1
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq
  }

  // -------------------------------------------------------------- OPTION()

  /** Strip every `OPTION(k=v, ...)` clause; return (query-without-options,
    * parsed pairs). Later duplicates of a key win, matching last-wins hint
    * semantics.
    */
  private def extractOptions(pql: String): (String, Map[String, String]) = {
    var s = pql
    var opts = Map.empty[String, String]
    var found = true
    while (found) {
      found = false
      val mask = quotedMask(s)
      val d = depths(s, mask)
      val m = "(?i)(?<![A-Za-z0-9_])OPTION(?![A-Za-z0-9_])".r
        .findAllMatchIn(s).find(m => !mask(m.start) && d(m.start) == 0)
      m.foreach { kw =>
        var k = kw.end
        while (k < s.length && s.charAt(k).isWhitespace) k += 1
        require(k < s.length && s.charAt(k) == '(',
          s"OPTION must be followed by a parenthesized list in: $pql")
        val close = matchingParen(s, mask, k)
        val body = s.substring(k + 1, close)
        splitTopLevel(body).map(_.trim).filter(_.nonEmpty).foreach { pair =>
          val eq = pair.indexOf('=')
          require(eq > 0 && eq < pair.length - 1,
            s"malformed OPTION pair '$pair' (expected key=value)")
          opts += pair.substring(0, eq).trim -> pair.substring(eq + 1).trim
        }
        s = s.substring(0, kw.start) + s.substring(close + 1)
        found = true
      }
    }
    (s, opts)
  }

  // --------------------------------------------------- function rewriting

  /** Rewrite Pinot function names to Spark/graft equivalents, recursing
    * into argument lists first so nested aliases translate too. Unknown
    * functions pass through untouched. Double-quoted identifiers become
    * backticked.
    */
  private def rewriteFunctions(s: String): String = {
    val mask = quotedMask(s)
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!mask(i) && (c.isLetter || c == '_') &&
          (i == 0 || { val p = s.charAt(i - 1); !(p.isLetterOrDigit || p == '_') })) {
        var j = i
        while (j < s.length && { val x = s.charAt(j); x.isLetterOrDigit || x == '_' }) j += 1
        val name = s.substring(i, j)
        var k = j
        while (k < s.length && s.charAt(k).isWhitespace) k += 1
        if (k < s.length && s.charAt(k) == '(' && !mask(k)) {
          val close = matchingParen(s, mask, k)
          val inner = rewriteFunctions(s.substring(k + 1, close))
          val args = splitTopLevel(inner).map(_.trim)
          out.append(mapFunction(name, if (args == Seq("")) Seq.empty else args))
          i = close + 1
        } else { out.append(name); i = j }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  private val PercentileName = "(?i)PERCENTILE(EST|TDIGEST|KLL)?(\\d+)".r
  private val ThetaNominal = "(?i)nominalEntries\\s*=\\s*(\\d+)".r

  /** `PERCENTILE95` → 0.95, `PERCENTILE999` → 0.999, `PERCENTILE5` → 0.05
    * (two implied integer digits, longer names shift the scale — the Pinot
    * naming convention); `PERCENTILE100` → 1.
    */
  private def pctLevel(digits: String): String = {
    val v =
      if (digits == "100") java.math.BigDecimal.ONE
      else new java.math.BigDecimal(digits)
        .movePointLeft(math.max(2, digits.length))
    require(v.signum > 0 && v.compareTo(java.math.BigDecimal.ONE) <= 0,
      s"percentile level $digits outside (0, 100]")
    v.stripTrailingZeros.toPlainString
  }

  private def unquote(lit: String): String = {
    require(lit.length >= 2 && lit.head == '\'' && lit.last == '\'',
      s"expected a string literal, got $lit")
    lit.substring(1, lit.length - 1).replace("''", "'")
  }

  /** One Pinot function call (args already rewritten) → Spark SQL text. */
  private def mapFunction(name: String, args: Seq[String]): String = {
    def arity(ns: Int*): Unit = require(ns.contains(args.size),
      s"$name expects ${ns.mkString(" or ")} arguments, got ${args.size}")
    def dflt = s"$name(${args.mkString(", ")})"
    val up = name.toUpperCase
    up match {
      case "DISTINCTCOUNT" | "DISTINCTCOUNTBITMAP" =>
        arity(1); s"count(DISTINCT ${args.head})"
      case "DISTINCTCOUNTHLL" =>
        // optional 2nd arg is Pinot's log2m: map to the equivalent
        // relative standard deviation (1.04/sqrt(2^log2m)) rather than
        // silently ignoring the user's configured precision
        arity(1, 2)
        if (args.size == 1) s"approx_count_distinct(${args.head})"
        else {
          val log2m = args(1).toIntOption.getOrElse(
            throw new IllegalArgumentException(
              s"DISTINCTCOUNTHLL: log2m must be an integer literal, got ${args(1)}"))
          require(log2m >= 4 && log2m <= 21,
            s"DISTINCTCOUNTHLL: log2m $log2m outside [4, 21]")
          val rsd = 1.04 / math.sqrt(math.pow(2.0, log2m.toDouble))
          s"approx_count_distinct(${args.head}, ${"%.6f".format(rsd)}D)"
        }
      case "DISTINCTCOUNTTHETASKETCH" =>
        // Pinot returns the rounded LONG estimate (theta_sketch_estimate's
        // type); the optional 2nd arg carries sketch parameters — honor
        // nominalEntries (the one that changes the answer) and reject
        // anything else loudly rather than translate silently-differently.
        // DataSketches rounds nominalEntries up to a power of two, and
        // Spark's theta_sketch_agg takes its log2.
        arity(1, 2)
        val nominal =
          if (args.size == 1) 4096L
          else unquote(args(1)).trim match {
            case ThetaNominal(n) => n.toLongOption.getOrElse(Long.MaxValue)
            case other => throw new IllegalArgumentException(
              "DISTINCTCOUNTTHETASKETCH: unsupported parameter string " +
                s"'$other' (supported: nominalEntries=<int>)")
          }
        require(nominal >= 16 && nominal <= (1L << 26),
          s"DISTINCTCOUNTTHETASKETCH: nominalEntries $nominal outside [16, 2^26]")
        val lg = 64 - java.lang.Long.numberOfLeadingZeros(nominal - 1)
        s"theta_sketch_estimate(theta_sketch_agg(${args.head}, $lg))"
      case "SEGMENTPARTITIONEDDISTINCTCOUNT" =>
        // exact under Pinot's partitioning assumption; Spark's shuffle
        // makes it exact unconditionally
        arity(1); s"count(DISTINCT ${args.head})"
      case "DISTINCTSUM" => arity(1); s"sum(DISTINCT ${args.head})"
      case "DISTINCTAVG" => arity(1); s"avg(DISTINCT ${args.head})"
      case "MINMAXRANGE" =>
        arity(1); s"(max(${args.head}) - min(${args.head}))"
      case "MINMAXRANGEMV" =>
        arity(1)
        s"(max(array_max(${args.head})) - min(array_min(${args.head})))"
      case "FIRSTWITHTIME" =>
        arity(2, 3); s"min_by(${args(0)}, ${args(1)})"
      case "LASTWITHTIME" =>
        arity(2, 3); s"max_by(${args(0)}, ${args(1)})"
      case "COUNTMV" => arity(1); s"sum(size(${args.head}))"
      case "SUMMV" =>
        arity(1)
        s"sum(aggregate(${args.head}, CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
      case "MINMV" => arity(1); s"min(array_min(${args.head}))"
      case "MAXMV" => arity(1); s"max(array_max(${args.head}))"
      case "AVGMV" =>
        arity(1)
        s"(sum(aggregate(${args.head}, CAST(0 AS DOUBLE), (acc, v) -> acc + v))" +
          s" / sum(size(${args.head})))"
      case "JSONEXTRACTSCALAR" =>
        arity(2, 3, 4)
        val base = s"get_json_object(${args(0)}, ${args(1)})"
        val cast =
          if (args.size < 3) base
          else unquote(args(2)).toUpperCase match {
            case "STRING" => base
            case "INT" => s"CAST($base AS INT)"
            case "LONG" => s"CAST($base AS BIGINT)"
            case "FLOAT" => s"CAST($base AS FLOAT)"
            case "DOUBLE" => s"CAST($base AS DOUBLE)"
            case "BOOLEAN" => s"CAST($base AS BOOLEAN)"
            case other => throw new IllegalArgumentException(
              s"JSONEXTRACTSCALAR: unsupported result type '$other'")
          }
        if (args.size == 4) s"coalesce($cast, ${args(3)})" else cast
      case "DATETRUNC" =>
        arity(2); s"date_trunc(${args(0)}, ${args(1)})"
      case "FROMDATETIME" =>
        // timestamp-index.md:36: fromDateTime('2014-01-16', 'yyyy-MM-dd')
        // → epoch millis (the pattern literal passes through verbatim)
        arity(2); s"unix_millis(to_timestamp(${args(0)}, ${args(1)}))"
      case "TODATETIME" =>
        arity(2); s"date_format(timestamp_millis(${args(0)}), ${args(1)})"
      case "DATETIMECONVERT" =>
        arity(4); dateTimeConvert(args(0), args(1), args(2), args(3))
      case _ if up.startsWith("PERCENTILE") =>
        up match {
          case PercentileName(kind, digits) =>
            arity(1)
            val level = pctLevel(digits)
            Option(kind).map(_.toUpperCase) match {
              case None => s"percentile(${args.head}, ${level}D)"
              case Some("EST") | Some("TDIGEST") =>
                s"approx_percentile(${args.head}, ${level}D)"
              case Some("KLL") =>
                // k = 65535, Spark's ceiling: exact below 65535 rows per group
                s"kll_sketch_get_quantile_double(" +
                  s"kll_sketch_agg_double(CAST(${args.head} AS DOUBLE), 65535), ${level}D)"
              case _ => dflt
            }
          case _ => dflt
        }
      case _ => dflt
    }
  }

  private val EpochFmt = "(?i)(\\d+):([A-Z]+):EPOCH".r
  private val SdfFmt = "(?i)(\\d+):([A-Z]+):SIMPLE_DATE_FORMAT:(.+)".r
  private val GranFmt = "(?i)(\\d+):([A-Z]+)".r

  private def unitMs(unit: String): Long = unit.toUpperCase match {
    case "MILLISECONDS" => 1L
    case "SECONDS" => 1000L
    case "MINUTES" => 60000L
    case "HOURS" => 3600000L
    case "DAYS" => 86400000L
    case other => throw new IllegalArgumentException(
      s"DATETIMECONVERT: unsupported time unit '$other'")
  }

  /** Pinot DATETIMECONVERT(col, inFmt, outFmt, granularity): normalize the
    * input to epoch millis, floor to the granularity bucket, render in the
    * output format. Epoch formats follow Pinot's `size:unit:EPOCH` (value
    * counts `size`-sized units); `'TIMESTAMP'` accepts a native timestamp
    * column. All emitted arithmetic is integer `div`, so the translation is
    * engine-exact.
    */
  private def dateTimeConvert(
      col: String, inFmt: String, outFmt: String, gran: String): String = {
    val ms = unquote(inFmt) match {
      case f if f.equalsIgnoreCase("TIMESTAMP") => s"unix_millis($col)"
      case EpochFmt(size, unit) =>
        val scale = unitMs(unit) * size.toLong
        // BIGINT up-cast first: epoch seconds/minutes columns are often
        // INT, and the ms scaling would overflow 32 bits
        if (scale == 1L) s"CAST($col AS BIGINT)"
        else s"(CAST($col AS BIGINT) * $scale)"
      case other => throw new IllegalArgumentException(
        s"DATETIMECONVERT: unsupported input format '$other'")
    }
    val granMs = unquote(gran) match {
      case GranFmt(size, unit) => unitMs(unit) * size.toLong
      case other => throw new IllegalArgumentException(
        s"DATETIMECONVERT: unsupported granularity '$other'")
    }
    val bucket = s"((($ms) div $granMs) * $granMs)"
    unquote(outFmt) match {
      case f if f.equalsIgnoreCase("TIMESTAMP") => s"timestamp_millis($bucket)"
      case EpochFmt(size, unit) =>
        val scale = unitMs(unit) * size.toLong
        if (scale == 1L) bucket else s"($bucket div $scale)"
      case SdfFmt(_, _, pattern) =>
        // re-escape: unquote() unescaped the literal's '' pairs, and the
        // pattern goes back inside single quotes (Pinot patterns quote
        // literal text, e.g. yyyy-MM-dd''T''HH)
        s"date_format(timestamp_millis($bucket), '${pattern.replace("'", "''")}')"
      case other => throw new IllegalArgumentException(
        s"DATETIMECONVERT: unsupported output format '$other'")
    }
  }

  // ------------------------------------------------------- clause rebuild

  private case class Clauses(
      select: String, from: String, where: Option[String],
      groupBy: Option[String], having: Option[String],
      orderBy: Option[String], top: Option[Int], limit: Option[String])

  private val ClauseKws = Seq(
    "FROM" -> "FROM", "WHERE" -> "WHERE", "GROUP BY" -> "GROUP\\s+BY",
    "HAVING" -> "HAVING", "ORDER BY" -> "ORDER\\s+BY", "TOP" -> "TOP",
    "LIMIT" -> "LIMIT")

  private def parseClauses(s: String): Clauses = {
    val mask = quotedMask(s)
    val d = depths(s, mask)
    val selStart = "(?i)^\\s*SELECT(?![A-Za-z0-9_])".r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"query must start with SELECT: $s"))
    // every top-level clause keyword occurrence, in textual order
    val marks = ClauseKws.flatMap { case (kind, pat) =>
      ("(?i)(?<![A-Za-z0-9_])" + pat + "(?![A-Za-z0-9_])").r
        .findAllMatchIn(s)
        .filter(m => !mask(m.start) && d(m.start) == 0 && m.start >= selStart.end)
        .map(m => (m.start, m.end, kind))
    }.sortBy(_._1)
    val canonical = ClauseKws.map(_._1)
    val kinds = marks.map(_._3)
    require(kinds.distinct == kinds, s"duplicate clause in query: $s")
    require(kinds.sortBy(canonical.indexOf) == kinds,
      s"clauses out of order in query: $s")
    require(kinds.contains("FROM"), s"query has no FROM clause: $s")
    val bounds = marks :+ ((s.length, s.length, "END"))
    def section(kind: String): Option[String] =
      marks.indexWhere(_._3 == kind) match {
        case -1 => None
        case ix => Some(s.substring(marks(ix)._2, bounds(ix + 1)._1).trim)
      }
    val select = s.substring(selStart.end, bounds.head._1).trim
    require(select.nonEmpty, s"empty select list in query: $s")
    val top = section("TOP").map { t =>
      require(t.matches("\\d+") && t.toLong > 0,
        s"TOP expects a positive integer, got '$t'")
      t.toInt
    }
    Clauses(select, section("FROM").get, section("WHERE"),
      section("GROUP BY"), section("HAVING"), section("ORDER BY"),
      top, section("LIMIT"))
  }

  /** Whitespace/case-insensitive expression comparison key. */
  private def norm(e: String): String =
    e.trim.toLowerCase.replaceAll("\\s+", " ")

  private val AliasRe = "(?is)^(.*?)\\s+as\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r

  private def exprOf(item: String): String = item.trim match {
    case AliasRe(e, _) => e
    case e => e
  }
  private def aliasOf(item: String): Option[String] = item.trim match {
    case AliasRe(_, a) => Some(a)
    case _ => None
  }

  /** Pinot's DISTINCT-as-a-function select form (`SELECT DISTINCT(a, b)
    * FROM t`): the whole select list is one DISTINCT(...) call returning
    * distinct tuples — a CLAUSE-level keyword in SQL, so it rewrites here
    * rather than in mapFunction.
    */
  private val DistinctFn = "(?is)^DISTINCT\\s*\\((.*)\\)\\s*$".r

  private def rebuildClauses(s: String): String = {
    val c = parseClauses(s)
    c.top.foreach { _ =>
      require(c.groupBy.nonEmpty, s"TOP requires a GROUP BY clause: $s")
      require(c.orderBy.isEmpty, s"TOP and ORDER BY are mutually exclusive: $s")
      require(c.limit.isEmpty, s"TOP and LIMIT are mutually exclusive: $s")
    }
    splitTopLevel(c.select).map(_.trim).find(i => DistinctFn.matches(i)) match {
      case Some(d) =>
        require(splitTopLevel(c.select).size == 1,
          s"DISTINCT(...) must be the whole select list: $s")
        require(c.groupBy.isEmpty && c.top.isEmpty,
          s"DISTINCT(...) cannot combine with GROUP BY/TOP: $s")
        val DistinctFn(cols) = d: @unchecked
        val sb = new StringBuilder("SELECT DISTINCT ").append(cols.trim)
          .append(" FROM ").append(c.from)
        c.where.foreach(w => sb.append(" WHERE ").append(w))
        c.orderBy.foreach(o => sb.append(" ORDER BY ").append(o))
        c.limit.foreach(l => sb.append(" LIMIT ").append(l))
        return sb.toString
      case None =>
    }
    val selectItems = splitTopLevel(c.select).map(_.trim)
    val groupExprs = c.groupBy.map(g => splitTopLevel(g).map(_.trim)).getOrElse(Seq.empty)
    // PQL group-by responses carry the group keys: prepend any group
    // expression the select list doesn't already contain. Ordinal group
    // refs (GROUP BY 1) already point INTO the select list.
    val selectKeys = selectItems.map(i => norm(exprOf(i))).toSet
    val prepend = groupExprs.filter(g =>
      !g.matches("\\d+") && !selectKeys.contains(norm(g)))
    val outSelect = (prepend ++ selectItems).mkString(", ")
    val (orderBy, limit) = c.top match {
      case Some(n) =>
        // TOP ranks by the FIRST AGGREGATE: the first select item that is
        // not itself a group expression (SQL-style selects may lead with
        // the group keys; pure-PQL selects list only aggregates).
        val groupNorms = groupExprs.map(norm).toSet
        val first = selectItems
          .find(i => !groupNorms.contains(norm(exprOf(i))))
          .getOrElse(selectItems.head)
        val key = aliasOf(first).getOrElse(exprOf(first))
        (Some((s"$key DESC" +: groupExprs.filterNot(_.matches("\\d+")))
          .mkString(", ")), Some(n.toString))
      case None => (c.orderBy, c.limit)
    }
    val sb = new StringBuilder("SELECT ").append(outSelect)
      .append(" FROM ").append(c.from)
    c.where.foreach(w => sb.append(" WHERE ").append(w))
    c.groupBy.foreach(g => sb.append(" GROUP BY ").append(g))
    c.having.foreach(h => sb.append(" HAVING ").append(h))
    orderBy.foreach(o => sb.append(" ORDER BY ").append(o))
    limit.foreach(l => sb.append(" LIMIT ").append(l))
    sb.toString
  }
}
