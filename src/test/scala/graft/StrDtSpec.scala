package graft

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.functions._
import graft.engine.StrDt

/** str/dt accessor surface (SURVEY.md §2.10) on known values. */
class StrDtSpec extends SparkSpec {
  import spark.implicits._

  test("str ops") {
    val df = Seq("  Hello World  ").toDF("s")
    val r = df.select(
      StrDt.strLower(col("s")),
      StrDt.strStrip(col("s")),
      StrDt.strLen(col("s")),
      StrDt.strContains(col("s"), "W.rld"), // regex default, pandas parity
      StrDt.strSlice(trim(col("s")), 0, 5),
      StrDt.strReplace(col("s"), "World", "W", regex = false),
      StrDt.strCount(col("s"), "l"),
      StrDt.strZfill(lit("7"), 4),
      StrDt.strExtract(lit("Brand#13"), "#([0-9]+)", 1),
      StrDt.strSplitItem(lit("a b c"), " ", 1)).collect()(0)
    assert(r.getString(0) == "  hello world  ")
    assert(r.getString(1) == "Hello World")
    assert(r.getInt(2) == 15)
    assert(r.getBoolean(3))
    assert(r.getString(4) == "Hello")
    assert(r.getString(5) == "  Hello W  ")
    assert(r.getInt(6) == 3)
    assert(r.getString(7) == "0007")
    assert(r.getString(8) == "13")
    assert(r.getString(9) == "b")
  }

  test("str.replace literal mode quotes regex metacharacters") {
    val df = Seq("a.b").toDF("s")
    val r = df.select(
      StrDt.strReplace(col("s"), ".", "_", regex = false),
      StrDt.strReplace(col("s"), ".", "_", regex = true)).collect()(0)
    assert(r.getString(0) == "a_b")  // literal dot only
    assert(r.getString(1) == "___")  // regex dot matches all
  }

  test("dt ops: pandas dayofweek offset (Mon=0), floor, strftime, day name") {
    // 2024-01-01 is a Monday
    val df = Seq(Date.valueOf("2024-01-01")).toDF("d")
    val r = df.select(
      StrDt.dtYear(col("d")), StrDt.dtMonth(col("d")), StrDt.dtDay(col("d")),
      StrDt.dtDayOfWeek(col("d")), StrDt.dtQuarter(col("d")),
      StrDt.dtStrftime(col("d"), "%Y/%m/%d"),
      StrDt.dtDayName(col("d"))).collect()(0)
    assert(r.getInt(0) == 2024 && r.getInt(1) == 1 && r.getInt(2) == 1)
    assert(r.getInt(3) == 0) // Monday
    assert(r.getInt(4) == 1)
    assert(r.getString(5) == "2024/01/01")
    assert(r.getString(6) == "Monday")
  }

  test("dt floor/ceil to hour") {
    val df = Seq(Timestamp.valueOf("2024-03-05 10:20:30")).toDF("t")
    val r = df.select(
      StrDt.dtFloor(col("t"), "hour").cast("string"),
      StrDt.dtCeil(col("t"), "hour").cast("string")).collect()(0)
    assert(r.getString(0) == "2024-03-05 10:00:00")
    assert(r.getString(1) == "2024-03-05 11:00:00")
  }

  test("dt ceil is identity when already aligned") {
    val df = Seq(Timestamp.valueOf("2024-03-05 10:00:00")).toDF("t")
    val r = df.select(StrDt.dtCeil(col("t"), "hour").cast("string")).collect()(0)
    assert(r.getString(0) == "2024-03-05 10:00:00")
  }

  test("str tranche 3: repeat/find/center/get/removeprefix/removesuffix/pad") {
    val df = Seq("ab").toDF("s")
    val r = df.select(
      StrDt.strRepeat(col("s"), 3),                       // Python 'ab'*3
      StrDt.strFind(col("s"), "b"), StrDt.strFind(col("s"), "z"),
      StrDt.strCenter(col("s"), 5, "*"),                  // 'ab'.center(5,'*')
      StrDt.strGet(col("s"), 1), StrDt.strGet(col("s"), 9),
      StrDt.strRemovePrefix(col("s"), "a"), StrDt.strRemovePrefix(col("s"), "x"),
      StrDt.strRemoveSuffix(col("s"), "b"), StrDt.strRemoveSuffix(col("s"), "x"),
      StrDt.strPad(col("s"), 4, "left", "0"), StrDt.strPad(col("s"), 4, "right", "0"),
      StrDt.strSwapcase(lit("aB c9"))).collect()(0)
    assert(r.getString(0) == "ababab")
    assert(r.getInt(1) == 1 && r.getInt(2) == -1)
    assert(r.getString(3) == "*ab**") // extra fill on the right, like Python
    assert(r.getString(4) == "b" && r.isNullAt(5))
    assert(r.getString(6) == "b" && r.getString(7) == "ab")
    assert(r.getString(8) == "a" && r.getString(9) == "ab")
    assert(r.getString(10) == "00ab" && r.getString(11) == "ab00")
    assert(r.getString(12) == "Ab C9")
  }

  test("str center passes through strings already at width") {
    val r = Seq("abcdef").toDF("s")
      .select(StrDt.strCenter(col("s"), 5, "*")).collect()(0)
    assert(r.getString(0) == "abcdef")
  }

  test("dt tranche 3: dayofyear/week/days_in_month/month-edge flags/date") {
    val df = Seq(
      Timestamp.valueOf("2024-02-29 10:30:00"),  // leap-month end
      Timestamp.valueOf("2024-04-01 00:00:00"),  // quarter start
      Timestamp.valueOf("2024-05-02 23:59:59")).toDF("t")
    val rows = df.select(
      StrDt.dtDayOfYear(col("t")), StrDt.dtWeek(col("t")),
      StrDt.dtDaysInMonth(col("t")),
      StrDt.dtIsMonthStart(col("t")), StrDt.dtIsMonthEnd(col("t")),
      StrDt.dtIsQuarterStart(col("t")),
      StrDt.dtDate(col("t")).cast("string"),
      StrDt.dtNormalize(col("t")).cast("string")).collect()
    assert(rows(0).getInt(0) == 60 && rows(0).getInt(2) == 29)
    assert(!rows(0).getBoolean(3) && rows(0).getBoolean(4))
    assert(rows(0).getString(6) == "2024-02-29")
    assert(rows(0).getString(7) == "2024-02-29 00:00:00")
    assert(rows(1).getBoolean(3) && rows(1).getBoolean(5)) // Apr 1 = Q2 start
    assert(rows(2).getInt(2) == 31 && !rows(2).getBoolean(4))
    assert(!rows(2).getBoolean(5))
  }

  test("str tranche 4: capitalize/char-class/partition/slice_replace") {
    val r = Seq(("Hello World", "Brand#42")).toDF("s", "b").select(
      StrDt.strCapitalize(col("s")),                    // "Hello world"
      StrDt.strIsAlpha(lit("abcDEF")),                  // true
      StrDt.strIsAlpha(col("b")),                       // '#' -> false
      StrDt.strIsDigit(lit("042")),                     // true
      StrDt.strIsSpace(lit("  \t")),                    // true
      StrDt.strIsLower(lit("ab c")),                    // true
      StrDt.strIsUpper(col("s")),                       // mixed -> false
      StrDt.strPartitionBefore(col("s"), " "),          // "Hello"
      StrDt.strPartitionAfter(col("s"), " "),           // "World"
      StrDt.strPartitionAfter(lit("nosep"), " "),       // ""
      StrDt.strSliceReplace(col("b"), 0, 5, "X")        // "X#42"
    ).collect()(0)
    assert(r.getString(0) == "Hello world")
    assert(r.getBoolean(1) && !r.getBoolean(2) && r.getBoolean(3))
    assert(r.getBoolean(4) && r.getBoolean(5) && !r.getBoolean(6))
    assert(r.getString(7) == "Hello" && r.getString(8) == "World")
    assert(r.getString(9) == "" && r.getString(10) == "X#42")
  }

  test("dt tranche 4: year boundaries + leap + quarter end") {
    val df = Seq(
      Date.valueOf("2000-01-01"), Date.valueOf("1999-12-31"),
      Date.valueOf("1900-06-30"), Date.valueOf("2024-03-31")).toDF("d")
    val out = df.select(col("d"),
      StrDt.dtIsYearStart(col("d")).as("ys"),
      StrDt.dtIsYearEnd(col("d")).as("ye"),
      StrDt.dtIsLeapYear(col("d")).as("lp"),
      StrDt.dtIsQuarterEnd(col("d")).as("qe")).orderBy("d").collect()
    // 1900 is NOT leap (divisible by 100, not 400); 2000 IS (by 400)
    val m = out.map(r => r.getDate(0).toString ->
      (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(m("2000-01-01") == ((true, false, true, false)))
    assert(m("1999-12-31") == ((false, true, false, true)))
    assert(m("1900-06-30") == ((false, false, false, true)))
    assert(m("2024-03-31") == ((false, false, true, true)))
  }

  test("str tranche 5: findall / translate / isalnum / get_dummies") {
    import spark.implicits._
    val df = Seq("a1 b22 c3", "none here", "x9").toDF("s")
    val fa = df.select(array_join(StrDt.strFindall(col("s"), "[0-9]+"), ",").as("m"))
      .orderBy("m").collect().map(_.getString(0))
    assert(fa.toSeq == Seq("", "1,22,3", "9"))
    assert(df.select(StrDt.strTranslate(lit("abcabc"), "ab", "xy"))
      .head().getString(0) == "xycxyc")
    assert(df.select(StrDt.strIsAlnum(lit("a1B2")), StrDt.strIsAlnum(lit("a 1")))
      .head() == org.apache.spark.sql.Row(true, false))
    val gd = Seq("red ring", "blue ring", "red bolt").toDF("n")
    val cols = StrDt.strGetDummies(gd, "n", " ")
    // sorted category columns: blue, bolt, red, ring
    val rows = gd.select(col("n") +: cols: _*).orderBy("n").collect()
    assert(rows.head.schema.fieldNames.toSeq == Seq("n", "blue", "bolt", "red", "ring"))
    assert(rows.map(r => r.getString(0) -> (1 to 4).map(r.getInt)).toMap ==
      Map("blue ring" -> Seq(1, 0, 0, 1), "red bolt" -> Seq(0, 1, 1, 0),
          "red ring" -> Seq(0, 0, 1, 1)))
  }

  test("str.get_dummies: a vocabulary over the 10,000-token cap fails loudly") {
    import spark.implicits._
    // 10,001 distinct tokens over 101 rows: one over the cap
    val over = (0 until 100).map(r =>
      (0 until 100).map(t => s"t${r * 100 + t}").mkString(" ")) :+ "t10000"
    val e = intercept[IllegalArgumentException](
      StrDt.strGetDummies(over.toDF("n"), "n", " "))
    assert(e.getMessage.contains("str.get_dummies: > 10000 categories in 'n'"))
    // exactly at the cap: 10,000 columns
    assert(StrDt.strGetDummies(over.dropRight(1).toDF("n"), "n", " ")
      .length == 10000)
  }

  test("dt tranche 5: to_period labels for Y/Q/M/D/W") {
    val df = Seq(Timestamp.valueOf("2024-03-15 10:30:00")).toDF("t")
    val r = df.select(
      StrDt.dtToPeriod(col("t"), "Y"), StrDt.dtToPeriod(col("t"), "Q"),
      StrDt.dtToPeriod(col("t"), "M"), StrDt.dtToPeriod(col("t"), "D"),
      StrDt.dtToPeriod(col("t"), "W")).head()
    assert(r.getString(0) == "2024")
    assert(r.getString(1) == "2024Q1")
    assert(r.getString(2) == "2024-03")
    assert(r.getString(3) == "2024-03-15")
    // 2024-03-15 is a Friday; its Mon..Sun period is 03-11/03-17
    assert(r.getString(4) == "2024-03-11/2024-03-17")
    intercept[IllegalArgumentException] { StrDt.dtToPeriod(col("t"), "H") }
  }

  test("str tranche 7: pad-only ljust/rjust/zfill, join, rsplit item") {
    import spark.implicits._
    val df = Seq("ab cd ef").toDF("s")
    val r = df.select(
      StrDt.strLjust(col("s"), 10, "."), StrDt.strLjust(col("s"), 4, "."),
      StrDt.strRjust(col("s"), 10, "."), StrDt.strZfill(lit("42"), 5),
      StrDt.strZfill(lit("1234567"), 5),
      StrDt.strJoin(split(col("s"), " "), "-"),
      StrDt.strRsplitItem(col("s"), " ", 0),
      StrDt.strRsplitItem(col("s"), " ", 1),
      StrDt.strRsplitItem(col("s"), " ", 5),
      StrDt.strCasefold(lit("AbC")), StrDt.strIsDecimal(lit("077")),
      StrDt.strIsDecimal(lit("7a"))).head()
    // pandas ljust/rjust/zfill NEVER truncate an already-wide string
    assert(r.getString(0) == "ab cd ef..")
    assert(r.getString(1) == "ab cd ef")
    assert(r.getString(2) == "..ab cd ef")
    assert(r.getString(3) == "00042" && r.getString(4) == "1234567")
    assert(r.getString(5) == "ab-cd-ef")
    assert(r.getString(6) == "ef" && r.getString(7) == "cd")
    assert(r.isNullAt(8))  // past the front -> null, not an ANSI error
    assert(r.getString(9) == "abc")
    assert(r.getBoolean(10) && !r.getBoolean(11))
  }

  test("dt tranche 7: time-of-day, weekday alias, isocalendar year/week") {
    // 2021-01-01 (Friday) belongs to ISO week 53 of ISO-YEAR 2020
    val df = Seq(Timestamp.valueOf("2021-01-01 22:15:09")).toDF("t")
    val r = df.select(StrDt.dtTime(col("t")), StrDt.dtWeekday(col("t")),
      StrDt.dtIsoYear(col("t")), StrDt.dtWeek(col("t"))).head()
    assert(r.getString(0) == "22:15:09")
    assert(r.getInt(1) == 4)      // Friday, Mon=0
    assert(r.getInt(2) == 2020 && r.getInt(3) == 53)
  }

  test("str tranche 8: real Unicode normalize (all 4 forms) + encode") {
    import spark.implicits._
    val deco = "cafe\u0301"          // e + combining acute
    val comp = "caf\u00e9"           // precomposed é
    val df = Seq((deco, "\ufb01n"), (comp, "2\u00b2")).toDF("a", "b")
    val r0 = df.select(
      StrDt.strNormalize(col("a"), "NFC"),
      StrDt.strNormalize(col("a"), "NFD"),
      StrDt.strNormalize(col("b"), "NFKC"),
      length(StrDt.strEncode(col("a"))).as("nbytes")).collect()
    assert(r0(0).getString(0) == comp && r0(1).getString(0) == comp)
    assert(r0(0).getString(1) == deco && r0(1).getString(1) == deco)
    assert(r0(0).getString(2) == "fin")   // ligature ﬁ decomposes
    assert(r0(1).getString(2) == "22")    // superscript ² -> 2
    assert(r0(0).getInt(3) == 6 && r0(1).getInt(3) == 5) // utf-8 bytes
    // null passthrough
    val n = Seq(Option.empty[String]).toDF("a")
      .select(StrDt.strNormalize(col("a"), "NFC")).head()
    assert(n.isNullAt(0))
    intercept[IllegalArgumentException] {
      StrDt.strNormalize(col("a"), "NFX")
    }
  }

  test("str.extract with several groups: one column each, null on no match") {
    import spark.implicits._
    val df = Seq("ab-12", "xy-99", "nope").toDF("s")
    val cols = StrDt.strExtractGroups(col("s"), "([a-z]+)-([0-9]+)",
      Seq("word", "num"))
    val rows = df.select(col("s") +: cols: _*).orderBy("s").collect()
    // sorted: ab-12, nope, xy-99
    assert(rows(0).getString(1) == "ab" && rows(0).getString(2) == "12")
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2))
    assert(rows(2).getString(1) == "xy" && rows(2).getString(2) == "99")
  }

  test("str.wrap matches '\\n'.join(textwrap.wrap(s, w, " +
    "break_on_hyphens=False)) on single-spaced input") {
    // expected values generated with CPython 3.11 textwrap
    val cases = Seq(
      ("the quick brown fox jumps over the lazy dog", 10,
        "the quick\nbrown fox\njumps over\nthe lazy\ndog"),
      ("a bb ccc dddd", 5, "a bb\nccc\ndddd"),
      // break_long_words: whole-width slices from a line start
      ("supercalifragilisticexpialidocious", 10,
        "supercalif\nragilistic\nexpialidoc\nious"),
      // ...and fill-the-remainder when the line is already started
      ("ab supercalifragilistic xy", 10, "ab superca\nlifragilis\ntic xy"),
      ("hello", 10, "hello"),
      ("", 10, ""),
      // a word longer than width following a FULL line: line break
      // first, then slices (no zero-char fill)
      ("one two three", 3, "one\ntwo\nthr\nee"),
      ("abcdef", 2, "ab\ncd\nef"))
    cases.foreach { case (s, w, want) =>
      assert(graft.functions.TextWrapKernel.wrap(s, w) == want,
        s"wrap('$s', $w)")
    }
    // through the native expression, incl. null passthrough
    val out = Seq(Some("a bb ccc dddd"), None).toDF("s")
      .select(StrDt.strWrap(col("s"), 5)).collect()
    assert(out(0).getString(0) == "a bb\nccc\ndddd" && out(1).isNullAt(0))
    intercept[IllegalArgumentException] { StrDt.strWrap(col("s"), 0) }
    // astral chars: widths count CODE POINTS and the long-word slicer
    // never splits a surrogate pair (CPython-generated expectations)
    val e = "😀😁😂" // 😀😁😂 (3 cps)
    assert(graft.functions.TextWrapKernel.wrap(e + e, 5) ==
      "😀😁😂😀😁\n" +
        "😂")
    assert(graft.functions.TextWrapKernel.wrap("ab " + e + e, 5) ==
      "ab 😀😁\n" +
        "😂😀😁😂")
  }

  test("str.rpartition: last-occurrence split; absent sep puts the " +
    "whole string in the tail") {
    val df = Seq("a-b-c", "nodash", "-lead", "trail-").toDF("s")
    val rows = df.select(col("s"),
      StrDt.strRpartitionBefore(col("s"), "-"),
      StrDt.strRpartitionAfter(col("s"), "-")).orderBy("s").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows("a-b-c") == ("a-b", "c"))       // LAST dash, not first
    assert(rows("nodash") == ("", "nodash"))    // python ('', '', s)
    assert(rows("-lead") == ("", "lead"))
    assert(rows("trail-") == ("trail", ""))
    // null input: BOTH parts stay null (NaN propagation)
    val n = Seq(Option.empty[String]).toDF("s")
      .select(StrDt.strRpartitionBefore(col("s"), "-"),
        StrDt.strRpartitionAfter(col("s"), "-")).head()
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  test("str.index/rindex: position when present, job failure when " +
    "absent, null passthrough") {
    val ok = Seq(Some("abcabc"), None).toDF("s")
      .select(StrDt.strIndex(col("s"), "bc"),
        StrDt.strRindex(col("s"), "bc")).collect()
    assert(ok(0).getInt(0) == 1 && ok(0).getInt(1) == 4)
    assert(ok(1).isNullAt(0) && ok(1).isNullAt(1))
    val err = intercept[Exception] {
      Seq("abc").toDF("s").select(StrDt.strIndex(col("s"), "zz")).collect()
    }
    assert(err.toString.contains("not found") ||
      err.getCause != null && err.getCause.toString.contains("not found"))
  }

  test("str.extractall matches pandas (CPython-generated): every " +
    "match indexed 0.., no-match/null rows drop") {
    import spark.implicits._
    // expected values generated with pandas 2.x:
    //   Series(["ab12 cd34","xx",None,"a1","q9z8 k7",""])
    //     .str.extractall(r"([a-z]+)([0-9]+)")
    val df = Seq((0, Some("ab12 cd34")), (1, Some("xx")),
      (2, Option.empty[String]), (3, Some("a1")), (4, Some("q9z8 k7")),
      (5, Some(""))).toDF("id", "s")
    val out = StrDt.strExtractAll(df, "s", "([a-z]+)([0-9]+)",
        Seq("w", "n"))
      .select("id", "match", "w", "n").orderBy("id", "match")
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getString(2), r.getString(3))).toSeq
    assert(out == Seq(
      (0, 0, "ab", "12"), (0, 1, "cd", "34"),
      (3, 0, "a", "1"),
      (4, 0, "q", "9"), (4, 1, "z", "8"), (4, 2, "k", "7")))
    // single group also works; original columns ride through
    val one = StrDt.strExtractAll(df, "s", "([0-9]+)", Seq("d"))
      .select("id", "match", "d").orderBy("id", "match").collect()
    assert(one.map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq
      == Seq((0, 0, "12"), (0, 1, "34"), (3, 0, "1"),
        (4, 0, "9"), (4, 1, "8"), (4, 2, "7")))
    // a new name colliding with an existing column fails LOUDLY (the
    // output keeps input columns, so it would be AMBIGUOUS_REFERENCE)
    val boom = intercept[IllegalArgumentException] {
      StrDt.strExtractAll(df.withColumnRenamed("id", "match"),
        "s", "([0-9]+)", Seq("d"))
    }
    assert(boom.getMessage.contains("match"))
    assert(intercept[IllegalArgumentException] {
      StrDt.strExtractAll(df, "s", "([0-9]+)", Seq("id"))
    }.getMessage.contains("id"))
  }

  test("str.cat list form matches pandas (CPython-generated): na_rep " +
    "substitutes per cell, default nulls the whole row") {
    import spark.implicits._
    // pandas 2.x: a=[x,None,z,w]; b=[1,2,None,4]; c=[None,B,C,D]
    //   a.str.cat([b,c], sep='_', na_rep='NA')
    //     -> [x_1_NA, NA_2_B, z_NA_C, w_4_D]
    //   a.str.cat([b,c], sep='_') -> [NaN, NaN, NaN, w_4_D]
    val df = Seq(
      (Some("x"), Some("1"), Option.empty[String]),
      (Option.empty[String], Some("2"), Some("B")),
      (Some("z"), Option.empty[String], Some("C")),
      (Some("w"), Some("4"), Some("D"))).toDF("a", "b", "c")
    val cols = Seq(col("a"), col("b"), col("c"))
    val rows = df.select(
      StrDt.strCatList(cols, "_", naRep = Some("NA")).as("na"),
      StrDt.strCatList(cols, "_").as("strict")).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("x_1_NA", "NA_2_B", "z_NA_C", "w_4_D"))
    assert(rows.take(3).forall(_.isNullAt(1)) &&
      rows(3).getString(1) == "w_4_D")
    // empty separator (pandas default sep='')
    val nosep = df.select(StrDt.strCatList(cols, "",
      naRep = Some(""))).head().getString(0)
    assert(nosep == "x1")
  }
}
