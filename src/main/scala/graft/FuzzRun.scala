package graft

import java.nio.file.{Files, Paths}

/** Differential SQL fuzzer: generate seeded random queries in an
  * ENGINE-PORTABLE subset of ANSI SQL — the exact same string runs on this
  * engine and on the DuckDB oracle — execute them here, and dump results +
  * the SQL for `tools/check.py`'s value-level compare. The hand-written
  * 199-query gate checks the operators we thought to write; this checks
  * the compositions we didn't.
  *
  * The grammar stays inside the established cross-engine parity envelope
  * (the repo's oracle gotchas, learned rounds 2-10):
  *  - integer arithmetic only (every INTEGER column cast to BIGINT;
  *    multipliers and value ranges bounded so int64 never wraps under
  *    ANSI). Division enters ONLY as `CAST(floor(a / b) AS BIGINT)` over
  *    a NON-NEGATIVE bounded `a` and a positive constant `b` (round-12
  *    axis): the engines' native integer-division operators diverge in
  *    syntax and rounding, but an integral quotient q = a div b is
  *    exactly representable and a/b rounds to within 1 ulp of the true
  *    value, which is >= 1/b away from the next integer — so floor
  *    agrees bit-exactly on both engines at the grammar's magnitudes;
  *  - aggregates cast to BIGINT (DuckDB sum(int) is HUGEINT);
  *  - no floats, decimals, or collation-sensitive string ops — strings
  *    appear only as group keys and IS NOT NULL probes;
  *  - DATES as EXACT values only (round-11 axis): DATE literals inside
  *    the data's range, equality/range predicates, min/max, and
  *    CAST(.. AS DATE)/CAST(.. AS STRING) round-trips — both engines
  *    print dates as 'YYYY-MM-DD'. DAY-level arithmetic only (round-12
  *    axis): `d + INTERVAL k DAY` normalized back through CAST(.. AS
  *    DATE) (the engines disagree on the intermediate type, not the
  *    date), last_day(), and day()/quarter() extraction — all
  *    calendar-exact under the UTC session. Month/week arithmetic,
  *    formatting, and timestamp-fraction surfaces stay out (the
  *    known-divergent families: month-end clamping policies, week
  *    numbering, fractional rounding);
  *  - OUTER joins, all three flavors (LEFT round-11; RIGHT/FULL
  *    round-12) with the side(s) whose absence each variant exercises
  *    deterministically THINNED (`(SELECT * FROM t WHERE key % m <> k)
  *    t`), so the FK edges — which the synthetic data satisfies
  *    completely — actually produce the NULL rows: COALESCE, IS NULL,
  *    count(col) vs count(*), NULL group keys, NULL arithmetic
  *    propagation. RIGHT/FULL make the BASE columns nullable, so those
  *    queries never take the window branch (tied-at-NULL base rows
  *    carry differing joined values — running aggregates would be
  *    permutation-sensitive);
  *  - INTERSECT/EXCEPT (and their ALL multiset forms; round-12 axis)
  *    of two predicate slices over one FROM shape — ANSI-exact on
  *    BIGINT/string projections, NULLs compared IS-NOT-DISTINCT-style
  *    by both engines;
  *  - STRING functions on the ASCII dimension columns only (round-11
  *    axis): substr/upper/lower/||-concat as group keys and min/max
  *    subjects, LIKE prefix/suffix and length() predicates — all
  *    byte-exact on ASCII under both engines' binary collations;
  *  - FREE-TEXT functions over `documents.text` (round-12 axis; the
  *    column is lowercase-ASCII words at every SF, verified): bounded
  *    substr slices, md5-fingerprint buckets, and replace-stripped
  *    prefixes as group keys; length/instr/replace-delta occurrence
  *    counts as integer measures; LIKE '%word%' / instr / length
  *    predicates with needles drawn from the corpus vocabulary. The raw
  *    text never reaches an output schema — only bounded derivations do;
  *  - every query ends in a total ORDER BY over all output columns with
  *    an explicit NULLS FIRST (Spark defaults NULLS FIRST, DuckDB NULLS
  *    LAST — under LIMIT the default would cut different multisets), so
  *    LIMIT cuts the same multiset on both engines.
  *
  * Usage: `runMain graft.FuzzRun <sfDir> <outDir> [count] [seed] [mode]`,
  * then `python3 tools/check.py <sfDir> <outDir>`. Deterministic per
  * seed. `mode` concentrates a grammar axis for per-axis parity counts:
  * `outer` (every query takes its FK hops as thinned LEFT joins),
  * `fullouter` (every query's first hop is a thinned RIGHT or FULL
  * join), `setops` (every query is an INTERSECT/EXCEPT of two slices),
  * `dates` (every query starts from a dated table and carries at least
  * one exact-date predicate), `strings` (every query groups by a string
  * expression and carries a LIKE/length predicate), `freetext` (every
  * query starts from the corpus table, groups by a bounded text
  * derivation, and carries a text predicate), `windows` (per-row
  * window-function shape), `semis` (every query carries an IN /
  * correlated-EXISTS / NOT EXISTS predicate), `rollups` (ROLLUP/CUBE
  * super-aggregates with grouping() flags), `money` (every query
  * carries an exact-cents-quantized predicate over the double money
  * columns), `scalars` (correlated scalar subqueries in the SELECT
  * list — per-parent child aggregates along a reversed FK edge,
  * including the COUNT-over-empty-group shape where a naive
  * outer-join rewrite would emit NULL instead of 0), `nested`
  * (two-level aggregation: agg-over-agg through a derived table, and
  * joins of two independently aggregated slices), `distincts`
  * (several DISTINCT aggregates over DIFFERENT columns in one query —
  * the Expand-based plan shape — mixed with plain aggregates), `intdiv`
  * (every query carries a floor-division key or predicate), `datearith`
  * (every query starts from a dated table and carries day-level date
  * arithmetic), `intuples` (row-value tuples: multi-column IN / NOT IN
  * over literal tuple lists plus tuple-equality correlated EXISTS —
  * round-13 axis), `casekeys`
  * (CASE expressions as group keys and as pivot-style aggregate
  * arguments — round-13 axis), `nestedsetops` (three predicate slices
  * composed through TWO set operators with explicit parentheses,
  * e.g. INTERSECT of EXCEPTs — round-13 axis), `aggfilters` (ANSI
  * aggregate FILTER clauses over the subquery-free predicate pool —
  * round-13 axis, second wave), default `mixed`. */
object FuzzRun {

  private final case class Table(name: String, longs: Seq[String],
                                 ints: Seq[String], strings: Seq[String],
                                 dates: Seq[String] = Nil,
                                 moneys: Seq[String] = Nil,
                                 texts: Seq[String] = Nil) {
    /** Every column the grammar can reference, as an ORDER BY list: rows
      * tied on ALL of these are indistinguishable to any generated
      * expression, so window outputs are permutation-invariant even
      * though the synthetic tables have no unique key (sf0.001 lineitem
      * carries up to 5 rows per (orderkey, linenumber)). */
    def totalOrder: Seq[String] =
      longs ++ ints.map(c => s"CAST($c AS BIGINT)") ++ strings ++ dates
  }

  private val tables = Seq(
    Table("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"),
      Seq("l_linenumber"), Seq("l_returnflag", "l_linestatus"),
      dates = Seq("l_shipdate"),
      moneys = Seq("l_extendedprice", "l_discount", "l_tax", "l_quantity")),
    Table("orders", Seq("o_orderkey", "o_custkey"), Nil,
      Seq("o_orderstatus", "o_orderpriority"), dates = Seq("o_orderdate"),
      moneys = Seq("o_totalprice")),
    Table("customer", Seq("c_custkey"), Seq("c_nationkey"), Seq("c_mktsegment"),
      moneys = Seq("c_acctbal")),
    Table("nation", Nil, Seq("n_nationkey", "n_regionkey"), Seq("n_name")),
    Table("documents", Seq("doc_id", "n_chars"), Nil, Seq("lang", "source"),
      texts = Seq("text")))

  /** Vocabulary the synthetic `documents.text` is drawn from — LIKE /
    * instr / replace needles that actually occur, so text predicates are
    * selective rather than vacuously all-true or all-false. Lowercase
    * ASCII only: every text function in the axis is byte-exact there. */
  private val textWords = Seq(
    "table", "scan", "merge", "batch", "spark", "window", "filter",
    "value", "query", "order", "group", "column", "stream", "vector",
    "customer", "line", "sort", "hash", "agg", "row")

  /** FK equi-joins the synthetic tables actually satisfy; the fourth
    * element is the RIGHT side's join key — the column a LEFT variant
    * thins on so unmatched left rows exist by construction. */
  private val joins = Seq(
    ("lineitem", "orders", "l_orderkey = o_orderkey", "o_orderkey"),
    ("orders", "customer", "o_custkey = c_custkey", "c_custkey"),
    ("customer", "nation", "c_nationkey = n_nationkey", "n_nationkey"))

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val count = if (args.length > 2) args(2).toInt else 200
    val seed = if (args.length > 3) args(3).toLong else 10L
    val mode = if (args.length > 4) args(4) else "mixed"
    val spark = EngineSession.create()
    tables.foreach(t => spark.read.parquet(s"$sfDir/${t.name}.parquet")
      .createOrReplaceTempView(t.name))
    new java.io.File(outDir).mkdirs()

    val rnd = new java.util.Random(seed)
    val sqls = (0 until count).map(i => f"fuzz_$i%04d" -> gen(rnd, mode))
    var failed = 0
    sqls.foreach { case (name, sql) =>
      try spark.sql(sql).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[fuzz] $name failed: ${e.getMessage}\n$sql")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Verify.oracleJson(sqls))
    println(s"[fuzz] generated $count, executed ${count - failed}, failed $failed")
    spark.stop()
  }

  /** One random portable query. */
  private def gen(r: java.util.Random, mode: String = "mixed"): String = {
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
    val base = mode match {
      case "outer" | "fullouter" =>
        pick(tables.filter(t => joins.exists(_._1 == t.name)))
      case "dates" | "datearith" => pick(tables.filter(_.dates.nonEmpty))
      case "money" => pick(tables.filter(_.moneys.nonEmpty))
      case "freetext" => pick(tables.filter(_.texts.nonEmpty))
      // scalars correlates a child aggregate per base row, so the base
      // must be the PARENT of some FK edge (orders/customer/nation)
      case "scalars" => pick(tables.filter(t => joins.exists(_._2 == t.name)))
      case _ => pick(tables)
    }
    // deterministic thinning: the synthetic FK edges are total, so a
    // plain outer join of any flavor would produce ZERO NULL rows — each
    // outer variant thins the side whose absence it exists to exercise
    // (the subquery alias shadows the base view name on both engines)
    def thin(t: String, k: String): String = {
      val m = r.nextInt(3) + 2
      s"(SELECT * FROM $t WHERE $k % $m <> ${r.nextInt(m)}) $t"
    }
    // one FK hop. LEFT thins the RIGHT side (unmatched base rows -> NULL
    // right columns); RIGHT thins the BASE side (round-12 axis: unmatched
    // right rows -> NULL base columns); FULL thins BOTH. Sided variants
    // (RIGHT/FULL) only on the FIRST hop, where the thinned left leg IS
    // the base table — returned as a FROM-clause override.
    def hopFrag(lt: String, lk: String, rt: String, cond: String, rk: String,
                firstHop: Boolean): (String, Boolean, Boolean, Option[String]) = {
      val sidedOk = firstHop && mode != "windows"
      val jt =
        if (mode == "fullouter" && sidedOk) r.nextInt(2) + 1
        else if (mode == "outer") 0
        else if (sidedOk && mode == "mixed" && r.nextInt(8) == 0) r.nextInt(2) + 1
        else if (r.nextInt(2) == 0) 0
        else -1
      jt match {
        case -1 => (s" JOIN $rt ON $cond", false, false, None)
        case 0 => (s" LEFT JOIN ${thin(rt, rk)} ON $cond", false, true, None)
        case 1 => (s" RIGHT JOIN $rt ON $cond", true, false, Some(thin(lt, lk)))
        case _ => (s" FULL JOIN ${thin(rt, rk)} ON $cond", true, true,
          Some(thin(lt, lk)))
      }
    }
    // optionally follow one FK edge from the base table — and sometimes a
    // second hop from the joined table (lineitem -> orders -> customer)
    val wantJoin = mode == "outer" || mode == "fullouter" ||
      (mode != "scalars" && r.nextInt(3) == 0)
    val join = joins
      .filter(j => j._1 == base.name && wantJoin)
      .headOption.map { case (_, rt, cond, rk) =>
        val lk = cond.split(" = ")(0)
        val (frag1, baseNull1, outer1, fromOverride) =
          hopFrag(base.name, lk, rt, cond, rk, firstHop = true)
        val hop2 = joins.filter(j => j._1 == rt && r.nextInt(2) == 0)
          .headOption.map { case (_, rt2, cond2, rk2) =>
            val (frag2, _, outer2, _) =
              hopFrag(rt, cond2.split(" = ")(0), rt2, cond2, rk2, firstHop = false)
            (tables.find(_.name == rt2).get, frag2, outer2)
          }
        val t1 = tables.find(_.name == rt).get
        (Seq(Some((t1, outer1)), hop2.map(h => (h._1, h._3))).flatten,
          s"$frag1${hop2.map(_._2).getOrElse("")}", baseNull1, fromOverride)
      }
    val inScope = base +: join.map(_._1.map(_._1)).getOrElse(Nil)
    // a RIGHT/FULL first hop makes every BASE column nullable too — which
    // also rules the window branch out for this query (tied-at-NULL base
    // rows carry DIFFERING joined values, so running aggregates would be
    // permutation-sensitive); see the sidedOk guard above + baseNullable
    // below
    val baseNullable = join.exists(_._3)
    // every column of an outer-joined table is nullable downstream (an
    // inner hop after an outer one re-eliminates the NULL rows — treating
    // them as nullable anyway stays valid SQL, the probes just never fire)
    val nullable: Set[String] = join.map(_._1.collect {
      case (t, true) => t.longs ++ t.ints ++ t.strings ++ t.dates
    }.flatten.toSet).getOrElse(Set.empty) ++
      (if (baseNullable) (base.longs ++ base.ints ++ base.strings ++ base.dates).toSet
       else Set.empty[String])
    def longCols = inScope.flatMap(_.longs)
    def intCols = inScope.flatMap(_.ints)
    def strCols = inScope.flatMap(_.strings)
    def dateCols = inScope.flatMap(_.dates)
    def moneyCols = inScope.flatMap(_.moneys)
    def nullCols = (longCols ++ intCols).filter(nullable)
    // exact-cents quantization: the 2-decimal money doubles become exact
    // BIGINT cents — both engines compute the identical IEEE product and
    // round the identical double (representation error is ~1e-13, so the
    // half-way tie the engines could disagree on cannot arise), and the
    // integral result casts exactly. This is the one float surface in
    // the grammar; raw double arithmetic stays excluded.
    def moneyExpr(): String = s"CAST(round(${pick(moneyCols)} * 100) AS BIGINT)"
    // exact-value date literal inside the synthetic data's 1995..2001
    // range; fixed-width 'YYYY-MM-DD' so literal-string order equals
    // chronological order (used to orient BETWEEN bounds)
    def dateLit(): String =
      f"DATE '${1995 + r.nextInt(8)}-${r.nextInt(12) + 1}%02d-${r.nextInt(28) + 1}%02d'"
    // integer-valued expression over in-scope columns, bounded magnitude;
    // nullable leaves sometimes COALESCE (the NULL-absorbing shape), and
    // sometimes stay raw (NULL-propagating arithmetic — also exact)
    def intLeaf(c: String, cast: Boolean): String = {
      val e = if (cast) s"CAST($c AS BIGINT)" else c
      if (nullable(c) && r.nextInt(2) == 0) s"COALESCE($e, ${r.nextInt(19) - 9})" else e
    }
    def intExpr(depth: Int): String = {
      val leafs = longCols.map(intLeaf(_, cast = false)) ++
        intCols.map(intLeaf(_, cast = true)) ++
        moneyCols.headOption.map(_ => moneyExpr()) :+
        (r.nextInt(90) + 1).toString
      if (depth == 0 || r.nextInt(3) == 0) pick(leafs)
      else r.nextInt(4) match {
        case 0 => s"(${intExpr(depth - 1)} + ${intExpr(depth - 1)})"
        case 1 => s"(${intExpr(depth - 1)} * ${r.nextInt(7) + 1})"
        case 2 => s"(${intExpr(depth - 1)} % ${r.nextInt(97) + 3})"
        case _ =>
          val t = intExpr(depth - 1)
          s"(CASE WHEN ${pred()} THEN $t ELSE ${intExpr(depth - 1)} END)"
      }
    }
    // string-valued expression over the ASCII dimension columns —
    // substr/upper/lower/concat are byte-exact on ASCII and min/max
    // follows binary collation on both engines
    def strExpr(): String = {
      val c = pick(strCols)
      r.nextInt(5) match {
        case 0 => c
        case 1 => s"substr($c, 1, ${r.nextInt(3) + 1})"
        case 2 => s"upper($c)"
        case 3 => s"lower($c)"
        case _ if strCols.size > 1 =>
          val c2 = pick(strCols.filterNot(_ == c))
          s"($c || '-' || $c2)"
        case _ => s"upper($c)"
      }
    }
    def strPred(): String = {
      val c = pick(strCols)
      val letter = ('A' + r.nextInt(26)).toChar
      r.nextInt(3) match {
        case 0 => s"$c LIKE '$letter%'"
        case 1 => s"upper($c) LIKE '%$letter'"
        case _ => s"length($c) % ${r.nextInt(5) + 2} = ${r.nextInt(3)}"
      }
    }
    // FREE-TEXT surfaces (round-12 axis): documents.text is lowercase
    // ASCII words (verified at all three SFs), where length / substr /
    // upper / replace / instr / md5 / LIKE are byte-exact on both
    // engines' binary collations — the corpus column graduates from
    // "stays out" to a fuzzed surface. The raw text never reaches an
    // output schema (unbounded values would bloat the compare): it
    // appears through bounded slices, fingerprint buckets, and integer
    // measures only.
    def textCols = inScope.flatMap(_.texts)
    def textExpr(): String = {
      val t = pick(textCols)
      r.nextInt(4) match {
        case 0 => s"substr($t, ${r.nextInt(5) + 1}, ${r.nextInt(3) + 1})"
        case 1 => s"substr(md5($t), 1, ${r.nextInt(2) + 1})"
        case 2 => s"upper(substr($t, 1, ${r.nextInt(2) + 1}))"
        case _ => s"substr(replace($t, ' ', ''), 1, ${r.nextInt(3) + 1})"
      }
    }
    def textIntExpr(): String = {
      val t = pick(textCols)
      val w = pick(textWords)
      r.nextInt(4) match {
        case 0 => s"CAST(length($t) AS BIGINT)"
        case 1 => s"CAST(instr($t, '$w') AS BIGINT)"
        case 2 => // needle occurrence mass via replace-delta (no division)
          s"CAST(length($t) - length(replace($t, '$w', '')) AS BIGINT)"
        case _ => s"CAST(length(trim($t)) AS BIGINT)"
      }
    }
    def textPred(): String = {
      val t = pick(textCols)
      val w = pick(textWords)
      r.nextInt(4) match {
        case 0 => s"$t LIKE '%$w%'"
        case 1 => s"$t NOT LIKE '%$w%'"
        case 2 => s"instr($t, '$w') > ${r.nextInt(40)}"
        case _ => s"length($t) % ${r.nextInt(7) + 2} <= ${r.nextInt(4)}"
      }
    }
    // semi/anti-join predicates: uncorrelated IN and correlated
    // (NOT) EXISTS along an FK edge — integer-exact, NULL-free on the
    // subquery side (base columns are non-null), so the ANSI three-valued
    // pitfalls stay out of the generated set
    def semiPred(): String =
      joins.find(_._1 == base.name) match {
        case Some((_, rt, cond, rk)) =>
          val lk = cond.split(" = ")(0)
          r.nextInt(3) match {
            case 0 =>
              s"$lk IN (SELECT $rk FROM $rt WHERE $rk % ${r.nextInt(7) + 2} = ${r.nextInt(2)})"
            case 1 =>
              s"EXISTS (SELECT 1 FROM $rt WHERE $rk = $lk AND $rk % ${r.nextInt(5) + 2} = ${r.nextInt(2)})"
            case _ =>
              s"NOT EXISTS (SELECT 1 FROM $rt WHERE $rk = $lk AND $rk % ${r.nextInt(5) + 2} = ${r.nextInt(2)})"
          }
        case None => // no FK edge from the base: uncorrelated IN over a
                     // modular image both sides compute exactly
          val c = pick(longCols ++ intCols.map(x => s"CAST($x AS BIGINT)"))
          val t2 = pick(tables)
          val c2 = pick(t2.longs ++ t2.ints.map(x => s"CAST($x AS BIGINT)"))
          s"$c % 10 IN (SELECT $c2 % 10 FROM ${t2.name} WHERE $c2 % 3 = ${r.nextInt(3)})"
      }
    // floor-division over a provably NON-NEGATIVE bounded dividend and a
    // positive constant divisor — the one portable integer-division form
    // (see the class doc): abs() pins the sign, and the % 2^22 clamp
    // ENFORCES the magnitude bound in the generated SQL itself (floor of
    // a double quotient agrees bit-exactly across engines only while
    // 1/divisor exceeds the ulp of the quotient, i.e. dividend well
    // below ~2^46) — so a future widening of intExpr cannot silently
    // reintroduce floor-boundary divergence. Nonnegative % positive is
    // itself exact and engine-identical.
    def divExpr(): String =
      s"CAST(floor((abs(${intExpr(1)}) % 4194304) / ${r.nextInt(96) + 2}) AS BIGINT)"
    // row-value tuples (round-13 axis): multi-column tuples compared
    // positionally — IN / NOT IN against literal tuple lists (NOT IN is
    // safe there: every literal is non-null), and tuple EQUALITY inside
    // a correlated EXISTS for the subquery-backed shape. The two engines
    // PARSE multi-column IN-subquery incompatibly (this engine wants
    // `(a,b) IN (SELECT x, y ...)`, the oracle wants the right side
    // collapsed to one struct column), so the subquery form rides the
    // portable `(x, y) = (a, b)` row comparison instead — same
    // semantics, one shared string. The LEFT side draws from columns
    // provably non-null in this query (base columns minus outer-join
    // nullability), so tuple comparison never hits a NULL member.
    def tuplePred(): Option[String] = {
      val rawPool = (base.longs ++ base.ints).filterNot(nullable)
      if (rawPool.size < 2) return None
      def wrap(c: String) = if (base.ints.contains(c)) s"CAST($c AS BIGINT)" else c
      val a0 = pick(rawPool)
      val a = wrap(a0); val b = wrap(pick(rawPool.filterNot(_ == a0)))
      val (m1, m2) = (r.nextInt(5) + 2, r.nextInt(5) + 3)
      Some(if (r.nextBoolean()) {
        val t2 = pick(tables.filterNot(_.name == base.name))
        val cs = t2.longs ++ t2.ints.map(x => s"CAST($x AS BIGINT)")
        val c1 = pick(cs); val c2 = pick(cs)
        s"EXISTS (SELECT 1 FROM ${t2.name} WHERE ($c1 % $m1, $c2 % $m2)" +
          s" = ($a % $m1, $b % $m2)" +
          s" AND $c1 % ${r.nextInt(3) + 2} = ${r.nextInt(2)})"
      } else {
        val not = if (r.nextBoolean()) "NOT " else ""
        val lits = (0 until r.nextInt(3) + 2)
          .map(_ => s"(${r.nextInt(m1)}, ${r.nextInt(m2)})").distinct
        s"($a % $m1, $b % $m2) ${not}IN (${lits.mkString(", ")})"
      })
    }
    // CASE as a first-class derivation (round-13 axis): searched CASE
    // over grammar predicates as a GROUP KEY (integer and string result
    // branches, each branch pool type-homogeneous so both engines infer
    // the same result type) and as a pivot-style AGGREGATE argument
    // (sum of a guarded expression; count of a NULL-else branch, which
    // counts exactly the matching rows on both engines).
    def caseKey(): String =
      if (strCols.nonEmpty && r.nextBoolean())
        s"(CASE WHEN ${pred()} THEN '${('a' + r.nextInt(4)).toChar}'" +
          s" WHEN ${strPred()} THEN 'mid' ELSE 'zz' END)"
      else
        s"CAST(CASE WHEN ${pred()} THEN ${r.nextInt(5)}" +
          s" WHEN ${pred()} THEN (${pick(longCols ++ intCols.map(c => s"CAST($c AS BIGINT)"))} % ${r.nextInt(5) + 2})" +
          s" ELSE ${r.nextInt(9) + 5} END AS BIGINT)"
    def casePivotAgg(): String =
      if (r.nextBoolean())
        s"CAST(sum(CASE WHEN ${pred()} THEN ${intExpr(1)} ELSE 0 END) AS BIGINT)"
      else
        s"CAST(count(CASE WHEN ${pred()} THEN 1 END) AS BIGINT)"
    // aggregate FILTER clause (round-13 axis, second wave): ANSI
    // `agg(expr) FILTER (WHERE p)` — both engines keep exactly the rows
    // where p IS TRUE, so an empty kept set yields NULL for sum/min/max
    // and 0 for the counts, identically. The filter predicate draws from
    // the plain predicate pool MINUS subquery forms (whether subqueries
    // may appear inside FILTER differs by engine) via rejection —
    // deterministic per seed. DISTINCT aggregates stay out of FILTER for
    // the same reason.
    def filteredAgg(): String = {
      var p = pred()
      while (p.contains("SELECT")) p = pred()
      r.nextInt(4) match {
        case 0 => s"CAST(count(*) FILTER (WHERE $p) AS BIGINT)"
        case 1 => s"CAST(sum(${intExpr(1)}) FILTER (WHERE $p) AS BIGINT)"
        case 2 => s"CAST(min(${intExpr(1)}) FILTER (WHERE $p) AS BIGINT)"
        case _ =>
          s"CAST(count(${pick(longCols ++ intCols ++ strCols)}) FILTER (WHERE $p) AS BIGINT)"
      }
    }
    // day-level date arithmetic, normalized back to DATE: the engines
    // disagree on the type of date + interval (timestamp vs date), not on
    // the calendar day, so every arithmetic result passes through
    // CAST(.. AS DATE) before comparison or output
    def dateShift(): String = {
      val sign = if (r.nextBoolean()) "+" else "-"
      s"CAST(CAST(${pick(dateCols)} AS DATE) $sign INTERVAL ${r.nextInt(40) + 1} DAY AS DATE)"
    }
    def dateArithKey(): String = r.nextInt(4) match {
      case 0 => s"CAST(${dateShift()} AS STRING)"
      case 1 => s"CAST(last_day(CAST(${pick(dateCols)} AS DATE)) AS STRING)"
      case 2 => s"CAST(day(CAST(${pick(dateCols)} AS DATE)) AS BIGINT)"
      case _ => s"CAST(quarter(CAST(${pick(dateCols)} AS DATE)) AS BIGINT)"
    }
    def dateArithPred(): String = r.nextInt(3) match {
      case 0 => s"${dateShift()} <= ${dateLit()}"
      case 1 => s"${dateShift()} = CAST(${pick(dateCols)} AS DATE)"
      case _ => s"day(CAST(${pick(dateCols)} AS DATE)) % ${r.nextInt(5) + 2} = ${r.nextInt(3)}"
    }
    // exact date predicates only: literals, equality/range — no
    // arithmetic, no formatting (the known-divergent families)
    def datePred(): String = {
      val d = s"CAST(${pick(dateCols)} AS DATE)"
      r.nextInt(3) match {
        case 0 => s"$d <= ${dateLit()}"
        case 1 => s"$d = ${dateLit()}"
        case _ =>
          val (a, b) = (dateLit(), dateLit())
          // fixed-width literals: string order == chronological order
          if (a <= b) s"$d BETWEEN $a AND $b" else s"$d BETWEEN $b AND $a"
      }
    }
    def pred(): String = {
      val c = if (longCols.nonEmpty && (intCols.isEmpty || r.nextBoolean()))
        pick(longCols) else s"CAST(${pick(intCols ++ longCols)} AS BIGINT)"
      r.nextInt(8) match {
        case 0 => s"$c % ${r.nextInt(11) + 2} <= ${r.nextInt(5)}"
        case 1 => s"$c % ${r.nextInt(11) + 2} = ${r.nextInt(3)}"
        case 2 => s"$c % 100 BETWEEN ${r.nextInt(30)} AND ${30 + r.nextInt(60)}"
        case 3 => // uncorrelated scalar subquery as the bound
          s"$c % 100 <= (SELECT CAST(count(*) AS BIGINT) FROM " +
            s"${pick(tables).name}) % ${r.nextInt(50) + 3}"
        case 4 if dateCols.nonEmpty => datePred()
        case 5 if nullCols.nonEmpty => // the LEFT-join NULL side
          val n = pick(nullCols)
          if (r.nextBoolean()) s"$n IS NULL" else s"$n IS NOT NULL"
        case 6 if textCols.nonEmpty && r.nextBoolean() => textPred()
        case 6 if strCols.nonEmpty => strPred()
        case 7 if moneyCols.nonEmpty && r.nextBoolean() =>
          s"${moneyExpr()} % ${r.nextInt(97) + 3} <= ${r.nextInt(30)}"
        case 7 if r.nextBoolean() => semiPred()
        case _ if strCols.nonEmpty => s"${pick(strCols)} IS NOT NULL"
        case _ => s"$c % 5 <> ${r.nextInt(5)}"
      }
    }
    val genKeys: Seq[String] = (0 until r.nextInt(3)).map { _ =>
      r.nextInt(7) match {
        case 5 if r.nextInt(3) == 0 => s"(${divExpr()} % ${r.nextInt(9) + 2})"
        case 4 if dateCols.nonEmpty && r.nextInt(3) == 0 => dateArithKey()
        case 6 if textCols.nonEmpty => textExpr()
        case 0 if strCols.nonEmpty => strExpr()
        case 1 if dateCols.nonEmpty =>
          // 'YYYY-MM-DD' on both engines; NULL for an unmatched LEFT row
          s"CAST(CAST(${pick(dateCols)} AS DATE) AS STRING)"
        case 2 if dateCols.nonEmpty => // calendar bucketing: exact ints
          val f = if (r.nextBoolean()) "year" else "month"
          s"CAST($f(CAST(${pick(dateCols)} AS DATE)) AS BIGINT)"
        case 3 if moneyCols.nonEmpty =>
          s"(${moneyExpr()} % ${r.nextInt(9) + 2})"
        case _ =>
          s"(${pick(longCols ++ intCols.map(c => s"CAST($c AS BIGINT)"))} % ${r.nextInt(9) + 2})"
      }
    }
    val groupKeys: Seq[String] =
      (if (mode == "strings") strExpr() +: genKeys
       else if (mode == "freetext") textExpr() +: genKeys
       else if (mode == "intdiv") s"(${divExpr()} % ${r.nextInt(9) + 2})" +: genKeys
       else if (mode == "datearith") dateArithKey() +: genKeys
       else if (mode == "casekeys" ||
         (mode == "mixed" && r.nextInt(15) == 0)) caseKey() +: genKeys
       else genKeys).distinct
    val aggs: Seq[String] = ((if (mode == "casekeys") Seq(casePivotAgg()) else Nil) ++
      (if (mode == "aggfilters") Seq(filteredAgg(), filteredAgg()).distinct
       else if (mode == "mixed" && r.nextInt(15) == 0) Seq(filteredAgg())
       else Nil) ++
      (0 to r.nextInt(2)).map { _ =>
      r.nextInt(9) match {
        case 8 if textCols.nonEmpty =>
          val f = pick(Seq("sum", "min", "max"))
          s"CAST($f(${textIntExpr()}) AS BIGINT)"
        case 0 => "CAST(count(*) AS BIGINT)"
        case 1 =>
          val arg = if (r.nextInt(4) == 0) divExpr() else intExpr(1)
          s"CAST(sum($arg) AS BIGINT)"
        case 2 => s"CAST(min(${intExpr(1)}) AS BIGINT)"
        case 3 => s"CAST(max(${intExpr(1)}) AS BIGINT)"
        case 4 if dateCols.nonEmpty =>
          val f = if (r.nextBoolean()) "min" else "max"
          s"CAST($f(CAST(${pick(dateCols)} AS DATE)) AS STRING)"
        case 5 => // nullable-aware count: under a LEFT join this differs
                  // from count(*) by exactly the unmatched rows
          s"CAST(count(${pick(longCols ++ intCols ++ strCols)}) AS BIGINT)"
        case 6 if strCols.nonEmpty => // binary-collation string extremum
          s"${if (r.nextBoolean()) "min" else "max"}(${strExpr()})"
        case _ => s"CAST(count(DISTINCT ${pick(longCols ++ strCols)}) AS BIGINT)"
      }
    }).distinct
    val outs = (groupKeys ++ aggs).zipWithIndex
      .map { case (e, i) => s"$e AS c$i" }
    val basePreds = (0 until r.nextInt(3)).map(_ => pred())
    val preds = mode match {
      case "intuples" =>
        tuplePred().map(_ +: basePreds).getOrElse(pred() +: basePreds)
      case "mixed" if r.nextInt(15) == 0 =>
        tuplePred().map(_ +: basePreds).getOrElse(basePreds)
      case "dates" => datePred() +: basePreds
      case "intdiv" =>
        s"${divExpr()} % ${r.nextInt(7) + 2} <= ${r.nextInt(4)}" +: basePreds
      case "datearith" => dateArithPred() +: basePreds
      case "strings" => strPred() +: basePreds
      case "freetext" => textPred() +: basePreds
      case "semis" => semiPred() +: basePreds
      case "money" =>
        s"${moneyExpr()} % ${r.nextInt(97) + 3} <= ${r.nextInt(30)}" +: basePreds
      case _ => basePreds
    }
    val where = preds match {
      case Nil => ""
      case ps => " WHERE " + ps.mkString(if (r.nextBoolean()) " AND " else " OR ")
    }
    val groupBy = if (groupKeys.nonEmpty)
      " GROUP BY " + groupKeys.indices.map(i => (i + 1).toString).mkString(", ")
    else ""
    val having = if (groupKeys.nonEmpty && r.nextInt(3) == 0) {
      if (r.nextBoolean())
        s" HAVING CAST(count(*) AS BIGINT) > ${r.nextInt(4)}"
      else // aggregate-expression HAVING: sum/min over the same leaf pool
        s" HAVING CAST(${if (r.nextBoolean()) "sum" else "min"}(${intExpr(1)}) AS BIGINT)" +
          s" % ${r.nextInt(7) + 2} <= ${r.nextInt(5)}"
    } else ""
    // explicit NULLS FIRST: Spark defaults NULLS FIRST, DuckDB NULLS LAST
    // — under LIMIT the defaults would cut different multisets
    val orderBy = " ORDER BY " + outs.indices.map(i => s"c$i NULLS FIRST").mkString(", ")
    // LIMIT, sometimes with OFFSET (round-12 surface): exact on both
    // engines because every query's ORDER BY is total with pinned NULL
    // placement — the skipped prefix is the same multiset, so the kept
    // window is too
    val limit =
      if (r.nextInt(3) == 0) {
        val off = if (r.nextInt(3) == 0) s" OFFSET ${r.nextInt(50)}" else ""
        s" LIMIT ${r.nextInt(500) + 1}$off"
      } else ""
    val from = s"${join.flatMap(_._4).getOrElse(base.name)}${join.map(_._2).getOrElse("")}"
    // mixed mode composes every shape: windows/rollups/setops fire at
    // ~10% so a rollup-over-outer-join or window-over-date-filter or
    // except-of-slices gets generated
    if (!baseNullable &&
        (mode == "windows" || (mode == "mixed" && r.nextInt(10) == 0))) {
      // per-row window shape. The synthetic tables have NO unique key
      // (sf0.001 lineitem: up to 5 rows per (orderkey, linenumber)), so
      // the window orders by EVERY referenceable base column — rows
      // still tied are indistinguishable to any generated expression
      // (joined columns ride N:1 / <=1-match hops off base columns), so
      // every window output is permutation-invariant: running sums walk
      // identical values, row_number hands tied twins interchangeable
      // ranks, and the final total ORDER BY over all outputs makes the
      // forced LIMIT (the compare should see a bounded slice, not the
      // corpus) cut the same multiset.
      val allInts = longCols ++ intCols.map(c => s"CAST($c AS BIGINT)")
      val partKey =
        if (strCols.nonEmpty && r.nextBoolean()) strExpr()
        else s"(${pick(allInts)} % ${r.nextInt(7) + 2})"
      val part = if (r.nextInt(3) > 0) s"PARTITION BY $partKey " else ""
      val ord = base.totalOrder.mkString(", ")
      val framed = s"OVER (${part}ORDER BY $ord " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
      val plain = s"OVER (${part}ORDER BY $ord)"
      val wexprs = (0 to r.nextInt(2)).map { _ =>
        r.nextInt(6) match {
          case 0 => s"CAST(row_number() $plain AS BIGINT)"
          case 1 => s"CAST(sum(${intExpr(1)}) $framed AS BIGINT)"
          case 2 => s"CAST(min(${intExpr(1)}) $framed AS BIGINT)"
          case 3 => s"CAST(max(${intExpr(1)}) $framed AS BIGINT)"
          case 4 => s"CAST(count(*) $framed AS BIGINT)"
          case _ => s"CAST(lag(${pick(allInts)}, 1) $plain AS BIGINT)"
        }
      }.distinct
      // project only the integer identity columns (dates stay out of
      // output schemas; strings/dates still order the window)
      val idCols = base.longs ++ base.ints.map(c => s"CAST($c AS BIGINT)")
      val wouts = (idCols ++ wexprs).zipWithIndex
        .map { case (e, i) => s"$e AS c$i" }
      val wob = wouts.indices.map(i => s"c$i NULLS FIRST").mkString(", ")
      return s"SELECT ${wouts.mkString(", ")} FROM $from$where" +
        s" ORDER BY $wob LIMIT ${r.nextInt(300) + 1}"
    }
    if (mode == "rollups" || (mode == "mixed" && r.nextInt(10) == 0)) {
      // super-aggregate shape: ROLLUP/CUBE introduce NULL key rows whose
      // semantics are ANSI-identical; grouping() flags ride along so a
      // data NULL (outer-mode keys) and a rollup NULL stay distinguished
      // in the compared output
      val keys =
        if (groupKeys.nonEmpty) groupKeys.take(2)
        else Seq(s"(${pick(longCols ++ intCols.map(c => s"CAST($c AS BIGINT)"))} % ${r.nextInt(7) + 2})")
      val op = r.nextInt(3) match {
        case 0 => s"ROLLUP(${keys.mkString(", ")})"
        case 1 => s"CUBE(${keys.mkString(", ")})"
        case _ => // explicit sets: per-key slices + the grand total
          val sets = keys.map(k => s"($k)") :+ "()"
          s"GROUPING SETS (${sets.mkString(", ")})"
      }
      val flags = keys.map(k => s"CAST(grouping($k) AS BIGINT)")
      val rolled = (keys ++ flags ++ aggs).zipWithIndex
        .map { case (e, i) => s"$e AS c$i" }
      val rob = rolled.indices.map(i => s"c$i NULLS FIRST").mkString(", ")
      // engine divergence found by this axis's first smoke run: over an
      // EMPTY input, DuckDB emits the grand-total grouping-set row
      // (count 0) and Spark emits no rows. HAVING count(*) > 0 strips
      // exactly that phantom (every real group has count >= 1) and
      // nothing else — the documented envelope normalization.
      return s"SELECT ${rolled.mkString(", ")} FROM $from$where" +
        s" GROUP BY $op" +
        s" HAVING CAST(count(*) AS BIGINT) > 0 ORDER BY $rob$limit"
    }
    if (mode == "nestedsetops" || (mode == "mixed" && r.nextInt(15) == 0)) {
      // NESTED set operations (round-13 axis): three predicate slices of
      // one FROM shape composed through TWO set operators, parentheses
      // ALWAYS explicit — ANSI gives INTERSECT higher precedence than
      // UNION/EXCEPT and this axis refuses to bet that both engines'
      // parsers agree on unparenthesized chains. Both association shapes
      // are generated ((a op b) op c and a op (b op c)); plain forms are
      // set-DISTINCT, ALL forms multiset arithmetic, NULL keys compare
      // IS-NOT-DISTINCT-style — the single-level setops envelope applies
      // member-wise, so composition adds plan shape (nested set-op
      // subtrees), not new value semantics.
      val setCols =
        (if (groupKeys.nonEmpty) groupKeys
         else Seq(s"(${pick(longCols ++ intCols.map(c => s"CAST($c AS BIGINT)"))}" +
           s" % ${r.nextInt(9) + 2})"))
          .zipWithIndex.map { case (e, i) => s"$e AS c$i" }
      val names = setCols.indices.map(i => s"c$i")
      val ops = Seq("INTERSECT", "EXCEPT", "INTERSECT ALL", "EXCEPT ALL",
        "UNION", "UNION ALL")
      val (o1, o2) = (pick(ops), pick(ops))
      def slice() = s"SELECT ${setCols.mkString(", ")} FROM $from WHERE ${pred()}"
      val shape =
        if (r.nextBoolean()) s"(${slice()} $o1 ${slice()}) $o2 (${slice()})"
        else s"(${slice()}) $o1 (${slice()} $o2 ${slice()})"
      return s"SELECT ${names.mkString(", ")} FROM ($shape) s" +
        s" ORDER BY ${names.map(n => s"$n NULLS FIRST").mkString(", ")}$limit"
    }
    if (mode == "setops" || (mode == "mixed" && r.nextInt(12) == 0)) {
      // INTERSECT/EXCEPT of two predicate slices of the same FROM shape
      // (round-12 axis). ANSI-exact on both engines over the envelope's
      // BIGINT/string projections: the plain forms are set-DISTINCT, the
      // ALL forms multiset arithmetic, and set ops compare NULLs as
      // equal (IS NOT DISTINCT semantics) — so outer-join NULL keys are
      // in-envelope here too.
      val setCols =
        (if (groupKeys.nonEmpty) groupKeys
         else Seq(s"(${pick(longCols ++ intCols.map(c => s"CAST($c AS BIGINT)"))}" +
           s" % ${r.nextInt(9) + 2})"))
          .zipWithIndex.map { case (e, i) => s"$e AS c$i" }
      val names = setCols.indices.map(i => s"c$i")
      val op = pick(Seq("INTERSECT", "EXCEPT", "INTERSECT ALL", "EXCEPT ALL",
        "UNION", "UNION ALL"))
      val slice1 = s"SELECT ${setCols.mkString(", ")} FROM $from WHERE ${pred()}"
      val slice2 = s"SELECT ${setCols.mkString(", ")} FROM $from WHERE ${pred()}"
      return s"SELECT ${names.mkString(", ")} FROM ($slice1 $op $slice2) s" +
        s" ORDER BY ${names.map(n => s"$n NULLS FIRST").mkString(", ")}$limit"
    }
    if ((mode == "scalars" || (mode == "mixed" && r.nextInt(12) == 0)) &&
        join.isEmpty && joins.exists(_._2 == base.name)) {
      // correlated scalar subqueries in the SELECT list (round-12 axis):
      // per-parent child aggregates along the REVERSED FK edge
      // (orders -> its lineitems, customer -> its orders, nation -> its
      // customers). Everything is integer-exact: count(*) per parent,
      // sum of a bounded modular image, min/max of the child key. The
      // child predicate makes some parents' child sets EMPTY — the
      // classic COUNT-bug surface (a naive outer-join rewrite emits NULL
      // where ANSI says 0) on the count shape, and an exact NULL on the
      // sum/min shapes, which ORDER BY ... NULLS FIRST pins identically
      // on both engines. The base tables have no unique key, but a
      // scalar subquery is a deterministic function of the correlation
      // key, so tied rows carry identical values and the total ORDER BY
      // stays permutation-invariant under LIMIT.
      val (ct, _, cond, _) = joins.find(_._2 == base.name).get
      val Array(childKey, parentKeyRaw) = cond.split(" = ")
      val child = tables.find(_.name == ct).get
      val pk = if (base.longs.contains(parentKeyRaw)) parentKeyRaw
               else s"CAST($parentKeyRaw AS BIGINT)"
      def childPred(): String = {
        val c = pick(child.longs ++ child.ints.map(x => s"CAST($x AS BIGINT)"))
        s"$c % ${r.nextInt(7) + 2} <= ${r.nextInt(4)}"
      }
      def scalarSub(): String = r.nextInt(4) match {
        case 0 => s"(SELECT CAST(count(*) AS BIGINT) FROM $ct" +
          s" WHERE $childKey = $parentKeyRaw AND ${childPred()})"
        case 1 => s"(SELECT CAST(sum(${pick(child.longs)} % ${r.nextInt(9) + 2})" +
          s" AS BIGINT) FROM $ct WHERE $childKey = $parentKeyRaw AND ${childPred()})"
        case 2 => s"(SELECT CAST(${if (r.nextBoolean()) "min" else "max"}" +
          s"(${pick(child.longs ++ child.ints.map(x => s"CAST($x AS BIGINT)"))})" +
          s" AS BIGINT) FROM $ct WHERE $childKey = $parentKeyRaw AND ${childPred()})"
        case _ => s"(SELECT CAST(count(${pick(child.strings)}) AS BIGINT) FROM $ct" +
          s" WHERE $childKey = $parentKeyRaw AND ${childPred()})"
      }
      val idc = pk +: (if (base.strings.nonEmpty && r.nextBoolean())
        Seq(pick(base.strings)) else Nil)
      val scs = (0 to r.nextInt(2)).map(_ => scalarSub()).distinct
      val souts = (idc ++ scs).zipWithIndex.map { case (e, i) => s"$e AS c$i" }
      // optional scalar-subquery PREDICATE too (appended with AND: under
      // an OR-joined where the grouping changes, but identically so on
      // both engines — only cross-engine agreement matters here)
      val swhere = if (r.nextInt(3) == 0) {
        val sp = s"${scalarSub()} % ${r.nextInt(5) + 2} = ${r.nextInt(2)}"
        if (where.isEmpty) s" WHERE $sp" else s"$where AND $sp"
      } else where
      val sob = souts.indices.map(i => s"c$i NULLS FIRST").mkString(", ")
      return s"SELECT ${souts.mkString(", ")} FROM ${base.name}$swhere" +
        s" ORDER BY $sob$limit"
    }
    if (mode == "nested" || (mode == "mixed" && r.nextInt(12) == 0)) {
      // two-level aggregation (round-12 axis): a derived-table aggregate
      // re-aggregated outside — two exchanges, partial-agg interplay —
      // or an equi-join of two INDEPENDENTLY aggregated slices of the
      // same FROM shape. Inner measures are count(*)/sum over the
      // bounded integer pool, so re-aggregation stays int64-exact; NULL
      // join keys (thinned-outer bases) drop under the inner join and
      // survive a LEFT join identically on both engines.
      val allInts = longCols ++ intCols.map(c => s"CAST($c AS BIGINT)")
      def intKey() = s"(${pick(allInts)} % ${r.nextInt(9) + 2})"
      if (r.nextBoolean()) {
        val ik = (genKeys ++ Seq(intKey(), intKey())).distinct.take(2)
        val innerOuts = ik.zipWithIndex.map { case (e, i) => s"$e AS k$i" } ++
          Seq("CAST(count(*) AS BIGINT) AS n0",
            s"CAST(sum(${intExpr(1)}) AS BIGINT) AS n1")
        // sometimes top-N-then-reaggregate: the inner aggregate is cut by
        // a total ORDER BY + LIMIT before the outer pass — exact on both
        // engines because the inner order covers every inner output with
        // pinned NULL placement, so the kept multiset is identical
        val innerNames = innerOuts.indices.map(i =>
          if (i < ik.size) s"k$i" else s"n${i - ik.size}")
        val innerCut = if (r.nextInt(3) == 0)
          s" ORDER BY ${innerNames.map(n => s"$n NULLS FIRST").mkString(", ")}" +
            s" LIMIT ${r.nextInt(200) + 1}"
        else ""
        val inner = s"SELECT ${innerOuts.mkString(", ")} FROM $from$where" +
          s" GROUP BY ${ik.indices.map(i => (i + 1).toString).mkString(", ")}" +
          innerCut
        // outer groups by a strict subset of the inner keys (k0), so the
        // re-aggregation genuinely collapses groups when |ik| = 2
        val outs2 = Seq("k0 AS c0", "CAST(sum(n0) AS BIGINT) AS c1",
          "CAST(count(*) AS BIGINT) AS c2", "CAST(max(n1) AS BIGINT) AS c3")
        val hav = if (r.nextInt(3) == 0)
          s" HAVING CAST(sum(n0) AS BIGINT) > ${r.nextInt(4)}" else ""
        val nob = outs2.indices.map(i => s"c$i NULLS FIRST").mkString(", ")
        return s"SELECT ${outs2.mkString(", ")} FROM ($inner) t GROUP BY 1" +
          s"$hav ORDER BY $nob$limit"
      } else {
        val key = intKey()
        val a = s"SELECT $key AS k, CAST(count(*) AS BIGINT) AS n" +
          s" FROM $from WHERE ${pred()} GROUP BY 1"
        val b = s"SELECT $key AS k, CAST(sum(${intExpr(1)}) AS BIGINT) AS n2" +
          s" FROM $from WHERE ${pred()} GROUP BY 1"
        val jt = if (r.nextBoolean()) "JOIN" else "LEFT JOIN"
        return s"SELECT a.k AS c0, a.n AS c1, b.n2 AS c2 FROM ($a) a" +
          s" $jt ($b) b ON a.k = b.k" +
          " ORDER BY c0 NULLS FIRST, c1 NULLS FIRST, c2 NULLS FIRST" + limit
      }
    }
    if (mode == "distincts" || (mode == "mixed" && r.nextInt(12) == 0)) {
      // several DISTINCT aggregates over DIFFERENT arguments in one
      // query (round-12 axis): Spark plans N distinct-argument sets via
      // Expand (N+1 replicas of every input row re-aggregated twice),
      // DuckDB via per-aggregate hash tables — maximally different
      // physical strategies for the same exact semantics. DISTINCT
      // aggregates ignore NULLs identically on both engines, and the
      // global no-key form over an empty filter yields one row (count 0,
      // sum NULL) on both.
      val allInts = longCols ++ intCols.map(c => s"CAST($c AS BIGINT)")
      def dAgg(): String = r.nextInt(4) match {
        case 0 => s"CAST(count(DISTINCT ${pick(allInts)}) AS BIGINT)"
        case 1 => s"CAST(sum(DISTINCT (${pick(allInts)} % ${r.nextInt(97) + 3}))" +
          " AS BIGINT)"
        case 2 if strCols.nonEmpty => s"CAST(count(DISTINCT ${strExpr()}) AS BIGINT)"
        case _ => s"CAST(min(DISTINCT ${pick(allInts)}) AS BIGINT)"
      }
      val dAggs = ((0 to r.nextInt(2) + 1).map(_ => dAgg()) :+
        "CAST(count(*) AS BIGINT)").distinct
      val keys = groupKeys.take(2)
      val douts = (keys ++ dAggs).zipWithIndex.map { case (e, i) => s"$e AS c$i" }
      val gb = if (keys.nonEmpty)
        s" GROUP BY ${keys.indices.map(i => (i + 1).toString).mkString(", ")}" else ""
      val dob = douts.indices.map(i => s"c$i NULLS FIRST").mkString(", ")
      return s"SELECT ${douts.mkString(", ")} FROM $from$where$gb ORDER BY $dob$limit"
    }
    r.nextInt(8) match {
      case 0 if groupKeys.nonEmpty =>
        // DISTINCT projection (no aggregates)
        val cols = groupKeys.zipWithIndex.map { case (e, i) => s"$e AS c$i" }
        val ob = " ORDER BY " + cols.indices.map(i => s"c$i NULLS FIRST").mkString(", ")
        s"SELECT DISTINCT ${cols.mkString(", ")} FROM $from$where$ob$limit"
      case 1 if groupKeys.nonEmpty =>
        // UNION ALL of two predicate slices, rolled up outside
        val cols = groupKeys.zipWithIndex.map { case (e, i) => s"$e AS c$i" }
        val names = cols.indices.map(i => s"c$i")
        s"SELECT ${names.mkString(", ")}, CAST(count(*) AS BIGINT) AS n FROM (" +
          s"SELECT ${cols.mkString(", ")} FROM $from WHERE ${pred()} " +
          s"UNION ALL SELECT ${cols.mkString(", ")} FROM $from WHERE ${pred()}) u " +
          s"GROUP BY ${names.indices.map(i => (i + 1).toString).mkString(", ")}" +
          s" ORDER BY ${names.map(n => s"$n NULLS FIRST").mkString(", ")}, n NULLS FIRST$limit"
      case _ =>
        s"SELECT ${outs.mkString(", ")} FROM $from$where$groupBy$having$orderBy$limit"
    }
  }
}
