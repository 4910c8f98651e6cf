package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** String / datetime scalar function surface (`.parallel.str` /
  * `.parallel.dt` in the reference — a dynamic proxy over the whole
  * pandas accessor, `/root/reference/parallel_pandas/core/
  * parallel_str_dt.py:91-116`; ops exercised by tests listed in
  * SURVEY.md §2.10).
  *
  * CONTRACT vs the reference: the reference forwards ANY pandas
  * accessor attribute by introspection, so its surface is "whatever
  * pandas ships". This engine deliberately ships a CURATED set (~75
  * ops across 7 tranches) — every op the reference's tests exercise
  * plus the common tail — because each must be re-expressed as a
  * codegen'd Catalyst expression to keep the scan vectorized; a
  * dynamic proxy would force a Python-style row UDF fallback and
  * silently drop off the fast path. An accessor op outside this file
  * is a compile error, not a slow surprise; extend by adding a def.
  * Known deliberate exclusions, all for engine-portability: full
  * Unicode case FOLDING (ASCII classes; `str.normalize` itself is
  * real NFC/NFD/NFKC/NFKD since tranche 8), `str.wrap` (textwrap's
  * break_long_words interplay has no faithful declarative form),
  * locale-dependent formats, and DST-table timezone names (fixed
  * offsets like "UTC+05:30" work; tz databases differ between
  * engines).
  *
  * Everything here is a stock codegen'd Catalyst expression — these stay
  * inside WholeStageCodegen and vectorize over the parquet scan.
  */
object StrDt {

  // ---- str ----
  def strLower(c: Column): Column = lower(c)
  def strUpper(c: Column): Column = upper(c)
  def strLen(c: Column): Column = length(c)
  def strStrip(c: Column): Column = trim(c)
  /** pandas str.contains is REGEX by default. */
  def strContains(c: Column, pat: String): Column = c.rlike(pat)
  def strStartsWith(c: Column, p: String): Column = c.startsWith(p)
  def strEndsWith(c: Column, p: String): Column = c.endsWith(p)
  def strReplace(c: Column, pat: String, repl: String, regex: Boolean): Column =
    if (regex) regexp_replace(c, pat, repl)
    else regexp_replace(c, java.util.regex.Pattern.quote(pat),
      java.util.regex.Matcher.quoteReplacement(repl))
  /** pandas str.slice(i, j) — 0-based, end-exclusive. */
  def strSlice(c: Column, start: Int, stop: Int): Column =
    substring(c, start + 1, stop - start)
  /** Occurrences of a regex pattern (pandas str.count). */
  def strCount(c: Column, pat: String): Column =
    when(c.isNull, lit(null)).otherwise(size(split(c, pat, -1)) - 1)
  /** pandas str.zfill: left-pad with '0' (sign-aware variant deviates —
    * documented; reference tests don't cover negative numerics).
    * Strings already >= n pass through — lpad alone would TRUNCATE
    * them, pandas never does. */
  def strZfill(c: Column, n: Int): Column =
    when(length(c) >= n, c).otherwise(lpad(c, n, "0"))
  def strExtract(c: Column, pat: String, group: Int): Column =
    regexp_extract(c, pat, group)
  /** pandas str.extract with several groups -> one column per group
    * (null on no match, where regexp_extract alone would yield ""). */
  def strExtractGroups(c: Column, pat: String, names: Seq[String]): Seq[Column] =
    names.zipWithIndex.map { case (n, i) =>
      when(c.rlike(pat), regexp_extract(c, pat, i + 1)).as(n)
    }
  def strSplitItem(c: Column, sep: String, i: Int): Column =
    split(c, java.util.regex.Pattern.quote(sep)).getItem(i)
  /** pandas str.repeat(n). */
  def strRepeat(c: Column, n: Int): Column = repeat(c, n)
  /** pandas str.find: 0-based position of first occurrence, -1 absent. */
  def strFind(c: Column, sub: String): Column = instr(c, sub) - 1
  /** pandas str.pad(width, side) / ljust / rjust. Pad-only, never
    * truncate (pandas passes already-wide strings through; bare
    * lpad/rpad would clip them). */
  def strPad(c: Column, width: Int, side: String, fill: String = " "): Column =
    side match {
      case "left"  => strRjust(c, width, fill)
      case "right" => strLjust(c, width, fill)
      case "both"  => strCenter(c, width, fill)
    }
  /** pandas str.center: extra fill char goes to the RIGHT (Python
    * str.center). Strings already >= width pass through (lpad/rpad
    * truncate, hence the length gate). */
  def strCenter(c: Column, width: Int, fill: String = " "): Column =
    when(length(c) >= width, c).otherwise(
      rpad(lpad(c, floor((lit(width) + length(c)) / 2).cast("int"), lit(fill)),
        lit(width), lit(fill)))
  /** pandas str.get(i): character at position (null past the end). */
  def strGet(c: Column, i: Int): Column =
    when(length(c) > i, substring(c, i + 1, 1))
  /** pandas str.removeprefix / removesuffix (3.9+ Python semantics:
    * remove at most one occurrence, only at the edge). */
  /** pandas str.capitalize: FIRST char upper, rest lower (not initcap,
    * which capitalizes every word). */
  def strCapitalize(c: Column): Column =
    concat(upper(substring(c, 1, 1)), lower(c.substr(lit(2), length(c))))

  /** pandas str.isalpha / isdigit / isspace / islower / isupper —
    * character-class predicates (empty string -> false, like pandas). */
  def strIsAlpha(c: Column): Column = c.rlike("^[A-Za-z]+$")
  def strIsDigit(c: Column): Column = c.rlike("^[0-9]+$")
  def strIsSpace(c: Column): Column = c.rlike("^\\s+$")
  def strIsLower(c: Column): Column = (c === lower(c)) && c.rlike("[a-z]")
  def strIsUpper(c: Column): Column = (c === upper(c)) && c.rlike("[A-Z]")

  /** pandas str.partition(sep) head/tail: text before / after the FIRST
    * separator occurrence (whole string / empty when absent). */
  def strPartitionBefore(c: Column, sep: String): Column =
    when(instr(c, sep) > 0, substring_index(c, sep, 1)).otherwise(c)
  def strPartitionAfter(c: Column, sep: String): Column =
    when(instr(c, sep) > 0,
      c.substr(instr(c, sep) + sep.length, length(c)))
      .otherwise(lit(""))

  /** pandas str.slice_replace(start, stop, repl): splice `repl` over
    * [start, stop) (0-based, like pandas). */
  def strSliceReplace(c: Column, start: Int, stop: Int, repl: String): Column =
    concat(substring(c, 1, start), lit(repl),
      c.substr(lit(stop + 1), length(c)))

  def strRemovePrefix(c: Column, p: String): Column =
    when(c.startsWith(p), c.substr(lit(p.length + 1), length(c))).otherwise(c)
  def strRemoveSuffix(c: Column, sfx: String): Column =
    when(c.endsWith(sfx), c.substr(lit(1), length(c) - sfx.length)).otherwise(c)
  // ---- str, tranche 5 ----
  /** pandas str.findall(pat): every non-overlapping regex match, in
    * order, as an array. */
  def strFindall(c: Column, pat: String): Column =
    regexp_extract_all(c, lit(pat), lit(0))
  /** pandas str.translate with a `str.maketrans(from, to)` table. */
  def strTranslate(c: Column, from: String, to: String): Column =
    translate(c, from, to)
  def strIsAlnum(c: Column): Column = c.rlike("^[A-Za-z0-9]+$")
  /** pandas str.get_dummies(sep): one 0/1 indicator column per distinct
    * sep-delimited token, sorted by token. The dummy SCHEMA is
    * data-dependent in pandas too; the single bounded driver collect
    * here is that schema discovery, capped at [[MaxDummies]] tokens
    * with a loud failure above it (get_dummies is only meaningful for
    * small category sets; same guard as [[Frame.getDummies]]). The
    * indicator columns themselves are pure map-side codegen over one
    * split. */
  def strGetDummies(df: DataFrame, c: String, sep: String): Seq[Column] = {
    val pat = java.util.regex.Pattern.quote(sep)
    val cats = df.select(explode(split(col(c), pat)).as("__t"))
      .filter(col("__t").isNotNull && col("__t") =!= "").distinct()
      .limit(MaxDummies + 1).collect().map(_.getString(0)).sorted
    require(cats.length <= MaxDummies,
      s"str.get_dummies: > $MaxDummies categories in '$c'")
    cats.toSeq.map(cat =>
      array_contains(split(col(c), pat), cat).cast("int").as(cat))
  }

  /** The token cap of [[strGetDummies]]' vocabulary collect (the
    * default of [[Frame.getDummies]]' `maxCategories`). */
  private val MaxDummies = 10000

  // ---- dt ----
  def dtYear(c: Column): Column = year(c)
  def dtMonth(c: Column): Column = month(c)
  def dtDay(c: Column): Column = dayofmonth(c)
  def dtHour(c: Column): Column = hour(c)
  def dtMinute(c: Column): Column = minute(c)
  def dtQuarter(c: Column): Column = quarter(c)
  /** pandas dayofweek: Monday=0..Sunday=6; Spark dayofweek: Sunday=1. */
  def dtDayOfWeek(c: Column): Column = (dayofweek(c) + 5) % 7
  def dtDayName(c: Column): Column = date_format(c, "EEEE")
  def dtFloor(c: Column, unit: String): Column = date_trunc(unit, c)
  /** dt.ceil: truncate, and bump one unit unless already aligned. */
  def dtCeil(c: Column, unit: String): Column = {
    val fl = date_trunc(unit, c)
    when(fl === c, c).otherwise(fl + expr(s"INTERVAL 1 $unit"))
  }
  def dtDayOfYear(c: Column): Column = dayofyear(c)
  /** ISO week number (pandas dt.isocalendar().week / dt.week). */
  def dtWeek(c: Column): Column = weekofyear(c)
  def dtDaysInMonth(c: Column): Column = dayofmonth(last_day(c))
  def dtIsMonthStart(c: Column): Column = dayofmonth(c) === 1
  def dtIsMonthEnd(c: Column): Column = to_date(c) === last_day(c)
  def dtIsQuarterStart(c: Column): Column =
    dayofmonth(c) === 1 && (month(c) - 1) % 3 === 0
  /** pandas dt.date: calendar date part. */
  def dtIsQuarterEnd(c: Column): Column =
    to_date(c) === last_day(c) && month(c) % 3 === 0
  def dtIsYearStart(c: Column): Column =
    month(c) === 1 && dayofmonth(c) === 1
  def dtIsYearEnd(c: Column): Column =
    month(c) === 12 && dayofmonth(c) === 31
  def dtIsLeapYear(c: Column): Column = {
    val y = year(c)
    (y % 4 === 0 && y % 100 =!= 0) || y % 400 === 0
  }
  def dtDate(c: Column): Column = to_date(c)
  /** pandas dt.normalize(): midnight of the same day, still a timestamp. */
  def dtNormalize(c: Column): Column = date_trunc("day", c)

  /** strftime -> java.time format translation (the tokens pandas tests
    * use; extend as needed). */
  private val strftimeTokens = Seq(
    "%Y" -> "yyyy", "%m" -> "MM", "%d" -> "dd",
    "%H" -> "HH", "%M" -> "mm", "%S" -> "ss",
    "%B" -> "MMMM", "%b" -> "MMM", "%A" -> "EEEE", "%a" -> "EEE",
    "%j" -> "DDD", "%y" -> "yy")
  def strftimeToJava(fmt: String): String =
    strftimeTokens.foldLeft(fmt) { case (s, (k, v)) => s.replace(k, v) }
  def dtStrftime(c: Column, fmt: String): Column =
    date_format(c, strftimeToJava(fmt))

  def dtTzConvert(c: Column, tz: String): Column = from_utc_timestamp(c, tz)

  /** pandas `dt.to_period(freq).astype(str)` — the Period LABEL of the
    * calendar bucket containing the timestamp, in pandas' rendering.
    * Freqs: Y/A ("2024"), Q ("2024Q1"), M ("2024-03"), D
    * ("2024-03-15"), W ("2024-03-11/2024-03-17", the Mon..Sun span —
    * pandas' W-SUN default). Pure date arithmetic + format, codegen. */
  def dtToPeriod(c: Column, freq: String): Column = freq match {
    case "Y" | "A" => date_format(c, "yyyy")
    case "Q" => concat(year(c).cast("string"), lit("Q"),
      quarter(c).cast("string"))
    case "M" => date_format(c, "yyyy-MM")
    case "D" => date_format(c, "yyyy-MM-dd")
    case "W" =>
      val start = date_sub(to_date(c), dtDayOfWeek(c))
      concat(date_format(start, "yyyy-MM-dd"), lit("/"),
        date_format(date_add(start, 6), "yyyy-MM-dd"))
    case other =>
      throw new IllegalArgumentException(s"to_period: unsupported freq '$other'")
  }

  // ---- tranche 6: remaining casing / search / strip str ops, dt
  //      round (half-to-even) / names / sub-second / tz localize ----

  private val LowerAz = "abcdefghijklmnopqrstuvwxyz"
  private val UpperAz = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

  /** pandas str.swapcase — one 52-char translate, pure codegen (ASCII
    * contract, like the rest of the accessor). */
  def strSwapcase(c: Column): Column =
    translate(c, LowerAz + UpperAz, UpperAz + LowerAz)

  /** pandas str.title with WHITESPACE word boundaries (initcap
    * semantics). Python title() also treats any non-alpha as a
    * boundary ("it's" -> "It'S") — deviation documented; the accessor
    * contract is ASCII words. */
  def strTitle(c: Column): Column = initcap(c)

  /** pandas str.istitle under the same whitespace-word contract:
    * title-cased and contains at least one letter. */
  def strIsTitle(c: Column): Column =
    c.rlike("[A-Za-z]") && (c === initcap(c))

  /** pandas str.isnumeric (ASCII digits contract). */
  def strIsNumeric(c: Column): Column = c.rlike("^[0-9]+$")

  /** pandas str.match: regex anchored at the START only. */
  def strMatch(c: Column, pat: String): Column = c.rlike("^(?:" + pat + ")")

  /** pandas str.rfind: 0-based index of the LAST occurrence, -1 when
    * absent — one instr over the reversed pair, no regex. */
  def strRfind(c: Column, sub: String): Column = {
    require(sub.nonEmpty, "rfind: need a non-empty substring")
    val pos = instr(reverse(c), sub.reverse)
    when(pos === 0, lit(-1))
      .otherwise(length(c) - lit(sub.length) - pos + 1)
  }

  /** pandas str.lstrip / rstrip (whitespace form). */
  def strLstrip(c: Column): Column = ltrim(c)
  def strRstrip(c: Column): Column = rtrim(c)

  /** pandas Series.str.cat(other, sep): null if EITHER side is null
    * (NaN propagation) — unlike concat_ws, which skips nulls. The
    * two-column core of [[strCatList]]; one definition of the
    * propagation contract. */
  def strCat(a: Column, b: Column, sep: String): Column =
    strCatList(Seq(a, b), sep)

  /** pandas dt.round(freq) for fixed-length units (s/min/H/D):
    * round-HALF-TO-EVEN on the bucket index — pandas rounds an exact
    * half to the even multiple of the unit, NOT half-up. Exact integer
    * arithmetic on epoch micros, codegen, zero shuffle. */
  def dtRound(c: Column, unitSeconds: Long): Column = {
    require(unitSeconds >= 1, "dt.round: need unitSeconds >= 1")
    val us = unitSeconds * 1000000L
    val e = Core.usOf(c)
    val r0 = pmod(e, lit(us))
    val base = e - r0
    val half = us / 2
    // base is an exact multiple of us, so the double division below is
    // exact (bucket index ~1e5..1e9, far inside the 2^53 mantissa)
    val bucket = (base / us).cast("long")
    val bump = when(r0 > half, lit(us))
      .when(r0 < half, lit(0L))
      .otherwise(when(bucket % 2 === 0, lit(0L)).otherwise(lit(us)))
    timestamp_micros(base + bump)
  }

  /** pandas dt.month_name() (English locale). */
  def dtMonthName(c: Column): Column = date_format(c, "MMMM")

  def dtSecond(c: Column): Column = second(c)

  /** pandas dt.microsecond: sub-second micros within the second. */
  def dtMicrosecond(c: Column): Column =
    pmod(Core.usOf(c), lit(1000000L)).cast("int")

  /** pandas dt.tz_localize(tz): interpret the naive timestamp as
    * wall-clock time IN `tz` and return the UTC instant (the inverse
    * of [[dtTzConvert]]). Fixed-offset zones ("UTC+05:30") are
    * DST-table-free and engine-portable. */
  def dtTzLocalize(c: Column, tz: String): Column = to_utc_timestamp(c, tz)

  // ---- tranche 7: last thin stragglers of the curated contract ----

  /** pandas str.casefold — ASCII fold = lower, consistent with the
    * ASCII character classes used across the accessor (no full Unicode
    * case folding; documented contract). */
  def strCasefold(c: Column): Column = lower(c)
  /** pandas str.isdecimal (ASCII decimal digits; empty -> false). */
  def strIsDecimal(c: Column): Column = c.rlike("^[0-9]+$")
  /** pandas str.ljust / rjust: pad-only — strings already >= width
    * pass through (bare rpad/lpad would truncate them). */
  def strLjust(c: Column, width: Int, fill: String = " "): Column =
    when(length(c) >= width, c).otherwise(rpad(c, width, fill))
  def strRjust(c: Column, width: Int, fill: String = " "): Column =
    when(length(c) >= width, c).otherwise(lpad(c, width, fill))
  /** pandas str.join(sep) over a tokenized (array) column. */
  def strJoin(arr: Column, sep: String): Column = array_join(arr, sep)
  /** pandas str.rsplit(sep).str[-(i+1)]: i-th token from the RIGHT
    * (0 = last); null past the front (try_element_at, not element_at —
    * ANSI mode would throw on out-of-range). */
  def strRsplitItem(c: Column, sep: String, iFromRight: Int): Column =
    try_element_at(split(c, java.util.regex.Pattern.quote(sep)),
      lit(-(iFromRight + 1)))

  /** pandas dt.time rendered as "HH:mm:ss" (the engine has no
    * time-of-day object type; the string form is the comparable one). */
  def dtTime(c: Column): Column = date_format(c, "HH:mm:ss")
  /** pandas dt.weekday — alias of [[dtDayOfWeek]] (Mon=0). */
  def dtWeekday(c: Column): Column = dtDayOfWeek(c)
  /** pandas dt.isocalendar().year: the ISO-8601 week-numbering year =
    * calendar year of the Thursday in the timestamp's Mon-Sun week
    * (pairs with [[dtWeek]], which is already ISO week-of-year). */
  def dtIsoYear(c: Column): Column =
    year(date_add(date_sub(to_date(c), dtDayOfWeek(c)), 3))

  // ---- tranche 8: Unicode normalization + bytes encode (str.wrap,
  // excluded here in r8 for lack of a faithful declarative form, is
  // lifted in tranche 9 below via a native compiled kernel with an
  // explicitly documented contract) ----

  /** pandas str.normalize(form) — real Unicode NFC/NFD/NFKC/NFKD via a
    * native codegen'd expression ([[graft.functions.UnicodeNormalize]]);
    * the former ASCII-only contract exclusion, now lifted. */
  def strNormalize(c: Column, form: String = "NFC"): Column =
    graft.functions.UnicodeNormalize.normalize(c, form)
  /** pandas str.encode(charset): string -> binary payload. */
  def strEncode(c: Column, charset: String = "UTF-8"): Column =
    encode(c, charset)

  // ---- tranche 9 (round 10): the last proxy names — wrap,
  // rpartition, index/rindex (reference proxy parallel_str_dt.py:91-116)

  /** pandas str.wrap(width): textwrap.wrap joined with '\n', under the
    * curated contract documented on [[graft.functions.TextWrapKernel]]
    * (single-space collapse, break_long_words, no hyphen breaking).
    * Native codegen'd kernel — lifts tranche 8's wrap exclusion. */
  def strWrap(c: Column, width: Int): Column =
    graft.functions.TextWrap.wrap(c, width)

  /** pandas str.rpartition(sep) head/tail: text before / after the
    * LAST separator occurrence. NOT-found puts the whole string in the
    * TAIL — ('', '', s) — the mirror image of partition's (s, '', ''). */
  def strRpartitionBefore(c: Column, sep: String): Column = {
    require(sep.nonEmpty, "rpartition: need a non-empty separator")
    val pos = strRfind(c, sep)
    when(c.isNull, lit(null).cast("string")) // NaN propagation
      .when(pos >= 0, c.substr(lit(1), pos))
      .otherwise(lit(""))
  }
  def strRpartitionAfter(c: Column, sep: String): Column = {
    require(sep.nonEmpty, "rpartition: need a non-empty separator")
    val pos = strRfind(c, sep)
    when(pos >= 0, c.substr(pos + lit(sep.length + 1), length(c)))
      .otherwise(c)
  }

  /** pandas str.index / rindex: find/rfind that FAIL when the
    * substring is absent (pandas raises ValueError) — here the job
    * fails via `raise_error`, the distributed analogue of a per-row
    * exception; null input stays null (NaN propagation), like pandas. */
  def strIndex(c: Column, sub: String): Column = {
    val pos = strFind(c, sub)
    when(c.isNull, lit(null).cast("int"))
      .when(pos >= 0, pos)
      .otherwise(raise_error(
        concat(lit(s"str.index: substring '$sub' not found in "), c))
        .cast("int"))
  }
  def strRindex(c: Column, sub: String): Column = {
    val pos = strRfind(c, sub)
    when(c.isNull, lit(null).cast("int"))
      .when(pos >= 0, pos)
      .otherwise(raise_error(
        concat(lit(s"str.rindex: substring '$sub' not found in "), c))
        .cast("int"))
  }

  // ---- tranche 10 (round 11): extractall + the full cat signature —
  // the last likely-hit proxy names (reference proxy
  // parallel_str_dt.py:91-116; VERDICT r10 "What's missing" #1-2)

  /** pandas `str.extractall(pat)` — EVERY match of a capture-group
    * pattern, one output row per (input row, match): the match number
    * (`matchCol`, 0-based — pandas' MultiIndex `match` level) plus one
    * column per capture group. Spark shape: one `regexp_extract_all`
    * per group (all evaluated over the same scan — codegen'd, zero
    * shuffle), zipped positionally and `posexplode`d, so cardinality
    * grows only by the real match count. Rows with NO match emit
    * nothing (pandas drops them — posexplode of an empty array), and
    * null inputs likewise. A participating-but-empty or
    * NON-participating optional group yields '' (Spark and DuckDB
    * regexp semantics; pandas would NaN the non-participating case —
    * documented deviation, same contract as [[strExtract]]). */
  def strExtractAll(df: DataFrame, src: String, pat: String,
                    groups: Seq[String],
                    matchCol: String = "match"): DataFrame = {
    require(groups.nonEmpty,
      "extractall: the pattern needs at least one capture group")
    // The output keeps the input columns, so the new names must not
    // shadow existing ones — fail with the collision named instead of
    // Spark's AMBIGUOUS_REFERENCE at the select below.
    (matchCol +: groups).foreach(n => require(!df.columns.contains(n),
      s"extractall: frame already has a column '$n' — rename it or " +
        "pass different matchCol/group names"))
    val tmp = Iterator.from(0).map(i => s"__m$i")
      .find(n => !df.columns.contains(n)).get
    val zipped = arrays_zip(groups.indices.map(g =>
      regexp_extract_all(col(src), lit(pat), lit(g + 1)).as(s"__g$g")): _*)
    df.select(col("*"), posexplode(zipped).as(Seq(matchCol, tmp)))
      .select(df.columns.map(col) ++ (col(matchCol) +:
        groups.zipWithIndex.map { case (n, i) =>
          col(tmp).getField(s"__g$i").as(n) }): _*)
  }

  /** pandas `str.cat(others=[...], sep=, na_rep=)` — the full list-of-
    * others signature ([[strCat]] keeps the two-column core):
    * `naRep=None` (pandas default) nulls the WHOLE result when ANY
    * participating column is null (NaN propagation); `naRep=Some(r)`
    * substitutes `r` for null cells and always emits. Builds on
    * concat_ws only after nulls are resolved — bare concat_ws SKIPS
    * null cells, silently dropping their separators, which matches
    * neither leg. */
  def strCatList(cols: Seq[Column], sep: String = "",
                 naRep: Option[String] = None): Column = {
    require(cols.nonEmpty, "str.cat: need at least one column")
    naRep match {
      case Some(rep) =>
        concat_ws(sep, cols.map(c => coalesce(c, lit(rep))): _*)
      case None =>
        when(cols.map(_.isNull).reduce(_ || _), lit(null).cast("string"))
          .otherwise(concat_ws(sep, cols: _*))
    }
  }
}
