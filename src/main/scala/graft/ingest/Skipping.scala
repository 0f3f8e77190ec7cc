package graft.ingest

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType,
  LongType, ShortType, StringType, TimestampNTZType, TimestampType}

import TableLog.CkptState
import Versioned.{ConjunctReport, SkipReport}

/** DATA SKIPPING from log metadata: which files of a table state can
  * hold rows matching a predicate, decided from the archived per-file
  * zone maps, string prefixes, null counts and path-encoded partition
  * values — before any storage I/O. Every read surface feeds the ONE
  * conjunct parser here: a Column ([[Versioned.readAsOfWhere]], the
  * stream source's `where` option through
  * [[Versioned.readCommitAddsWhere]]) converts to a Catalyst tree with
  * the session's own converter (which also parses `expr(...)` text
  * inline), and a pushed `sources.Filter` ([[Versioned.buildPrunedScan]])
  * re-expresses as a Column first ([[filterToColumn]]). Pruning is
  * result-neutral by construction: every caller re-applies the full
  * predicate to the kept files' rows. */
private[graft] object Skipping {

  /** The analyzed shape of one skipping-predicate conjunct — shared by
    * the pruning pass and the per-conjunct [[SkipReport]]
    * diagnostics. */
  sealed trait SkipConjunct { def text: String }
  /** One column with an OR of bounds: a plain comparison is one bound;
    * `col.isin(...)`/SQL `IN` is one equality bound per (all-literal)
    * member — a file survives the conjunct iff ANY bound is
    * satisfiable on it. Each bound carries the literal's external value
    * and its type. */
  final case class SkipBounds(name: String,
      alts: Seq[(SkipOp, Any, Option[DataType])],
      text: String) extends SkipConjunct
  final case class SkipNull(name: String, isNull: Boolean,
      text: String) extends SkipConjunct
  /** `col.startsWith(p)` / `LIKE 'p%'`: prunable against archived
    * string-prefix stats — the match interval in p8 space is
    * [p8(p, 0x00), p8(p, 0xFF)]. */
  final case class SkipPrefix(name: String, prefix: String,
      text: String) extends SkipConjunct
  /** Anything log metadata can't decide — scans conservatively, the
    * re-applied row filter decides. */
  final case class SkipOpaque(text: String) extends SkipConjunct

  /** A DISJUNCTION of conjunction branches (the predicate's OR,
    * flattened two levels deep): a file survives iff SOME branch's
    * conjuncts all allow it. A branch containing an opaque shape
    * keeps every file through that branch — conservative, since the
    * full predicate is re-applied. */
  final case class SkipOr(branches: Seq[Seq[SkipConjunct]],
      text: String) extends SkipConjunct

  sealed trait SkipOp
  case object SkEq extends SkipOp
  case object SkNe extends SkipOp
  case object SkLt extends SkipOp
  case object SkLe extends SkipOp
  case object SkGt extends SkipOp
  case object SkGe extends SkipOp

  /** NOT of an analyzed conjunct, where a sound negation exists:
    * comparisons flip (`!(a < b)` = `a >= b` — null-safe here because
    * a null comparison fails BOTH forms, so either way the row is
    * gone and pruning on the flipped op stays conservative-correct),
    * null checks flip, and `NOT IN` becomes an AND of `!=` (rendered
    * as a single-branch [[SkipOr]]). Everything else — negated
    * prefixes, nested disjunctions — stays opaque for the row
    * filter. */
  private def negateConjunct(c: SkipConjunct): SkipConjunct = {
    val negOp = Map[SkipOp, SkipOp](SkEq -> SkNe, SkNe -> SkEq,
      SkLt -> SkGe, SkLe -> SkGt, SkGt -> SkLe, SkGe -> SkLt)
    c match {
      case SkipBounds(name, Seq((op, v, d)), text) =>
        SkipBounds(name, Seq((negOp(op), v, d)), s"NOT ($text)")
      case SkipBounds(name, alts, text) if alts.forall(_._1 == SkEq) =>
        SkipOr(Seq(alts.map { case (_, v, d) =>
          SkipBounds(name, Seq((SkNe, v, d)), s"$name != $v") }),
          s"NOT ($text)")
      case SkipNull(name, isNull, _) =>
        SkipNull(name, !isNull,
          if (isNull) s"$name IS NOT NULL" else s"$name IS NULL")
      case other => SkipOpaque(s"<NOT (${other.text})>")
    }
  }

  /** The conjuncts of `predicate` — THE conjunct parser. The Column
    * converts to an unanalyzed Catalyst tree with the session's own
    * converter: SQL text (`functions.expr`, the stream `where` option)
    * arrives parsed, and the Column API's operators arrive as
    * unresolved calls ("and", ">=", "isNotNull", …), resolved here
    * through the builtin registry when the walker understands the
    * name. Literals carry INTERNAL values (UTF8String, epoch
    * days/micros), converted to their external forms so the
    * [[litLong]] type gates apply; a literal of any other type stays a
    * bound its gate refuses. `LIKE 'p%'` (one trailing %, no other
    * wildcards, no escapes) lowers to the prefix conjunct. A predicate
    * the converter rejects is one opaque conjunct. */
  def conjunctsOf(spark: SparkSession, predicate: Column): Seq[SkipConjunct] = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry,
      UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions._
    val resolvable = Set("and", "or", "!", "=", "<", "<=", ">", ">=", "<=>",
      "in", "isnull", "isnotnull", "like")
    def resolveKnown(e: Expression): Expression = e.transformUp {
      case f: UnresolvedFunction if f.nameParts.size == 1 && !f.isDistinct =>
        f.nameParts.head.toLowerCase(java.util.Locale.ROOT) match {
          // its builder refuses unresolved arguments
          case "startswith" if f.arguments.size == 2 =>
            StartsWith(f.arguments.head, f.arguments(1))
          case n if resolvable(n) =>
            try FunctionRegistry.builtin.lookupFunction(
              FunctionIdentifier(n), f.arguments)
            catch { case NonFatal(_) => f }
          case _ => f
        }
    }
    def flat(e: Expression): Seq[Expression] = e match {
      case And(l, r) => flat(l) ++ flat(r)
      case _ => Seq(e)
    }
    def attr(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.mkString("."))
      case _ => None
    }
    def onColumn(e: Expression, what: String)
                (conj: String => SkipConjunct): SkipConjunct =
      attr(e).map(conj).getOrElse(SkipOpaque(s"<$what of a non-column>"))
    def ext(e: Expression): Option[(Any, Option[DataType])] = e match {
      case Literal(null, _) => None
      case Literal(v, dt) =>
        val x: Any = dt match {
          case _: StringType => v.toString
          case DateType => java.time.LocalDate.ofEpochDay(
            v.asInstanceOf[Number].longValue)
          case TimestampType =>
            val us = v.asInstanceOf[Number].longValue
            java.time.Instant.ofEpochSecond(
              Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
          case TimestampNTZType =>
            val us = v.asInstanceOf[Number].longValue
            java.time.LocalDateTime.ofEpochSecond(
              Math.floorDiv(us, 1000000L),
              (Math.floorMod(us, 1000000L) * 1000L).toInt,
              java.time.ZoneOffset.UTC)
          case _ => v
        }
        Some((x, Some(dt)))
      case _ => None
    }
    def isNullLit(e: Expression): Boolean = e match {
      case Literal(null, _) => true
      case _ => false
    }
    val cmp: Map[String, (SkipOp, SkipOp)] = Map( // (op, mirrored)
      "=" -> (SkEq, SkEq), "<=>" -> (SkEq, SkEq), "<" -> (SkLt, SkGt),
      "<=" -> (SkLe, SkGe), ">" -> (SkGt, SkLt), ">=" -> (SkGe, SkLe))
    def one(e: Expression): SkipConjunct = e match {
      // `<=> NULL` is IS NULL; `<=>` a value prunes as `=` does
      case EqualNullSafe(l, r) if isNullLit(l) || isNullLit(r) =>
        onColumn(if (isNullLit(r)) l else r, "<=> NULL")(n =>
          SkipNull(n, isNull = true, s"$n <=> NULL"))
      case b: BinaryComparison if cmp.contains(b.symbol) =>
        val (op, mir) = cmp(b.symbol)
        (attr(b.left), ext(b.right), ext(b.left), attr(b.right)) match {
          case (Some(n), Some(l), _, _) =>
            SkipBounds(n, Seq((op, l._1, l._2)), s"$n ${b.symbol} ${l._1}")
          case (_, _, Some(l), Some(n)) =>
            SkipBounds(n, Seq((mir, l._1, l._2)), s"${l._1} ${b.symbol} $n")
          case _ => SkipOpaque(s"<${b.symbol} over non-(column, literal)>")
        }
      case In(a, lits) if lits.nonEmpty =>
        (attr(a), lits.map(ext)) match {
          case (Some(n), es) if es.forall(_.isDefined) =>
            SkipBounds(n, es.map(l => (SkEq: SkipOp, l.get._1, l.get._2)),
              s"$n IN (${es.map(_.get._1).mkString(", ")})")
          case _ => SkipOpaque("<IN over non-(column, literals)>")
        }
      case IsNull(a) =>
        onColumn(a, "isnull")(n => SkipNull(n, isNull = true, s"$n IS NULL"))
      case IsNotNull(a) => onColumn(a, "isnotnull")(n =>
        SkipNull(n, isNull = false, s"$n IS NOT NULL"))
      case StartsWith(a, Literal(v, _: StringType)) if v != null =>
        onColumn(a, "startswith")(n => SkipPrefix(n, v.toString, s"$n LIKE '$v%'"))
      case l @ Like(a, Literal(pat, _: StringType), esc) if pat != null =>
        val s = pat.toString
        val body = s.dropRight(1)
        if (s.endsWith("%") && !body.exists(c =>
              c == '%' || c == '_' || c == esc))
          onColumn(a, "LIKE")(n => SkipPrefix(n, body, s"$n LIKE '$s'"))
        else SkipOpaque(s"<${l.sql}>")
      // NOT (a <=> v) holds on a's null rows, which the negated `=`
      // bound would prune with an all-null or single-value file
      case Not(ns: EqualNullSafe) if !isNullLit(ns.left) && !isNullLit(ns.right) =>
        SkipOpaque(s"<${e.sql}>")
      case Not(child) => negateConjunct(one(child))
      case Or(_, _) =>
        def orFlat(x: Expression): Seq[Expression] = x match {
          case Or(a2, b2) => orFlat(a2) ++ orFlat(b2)
          case other => Seq(other)
        }
        val branches = orFlat(e).map(br => flat(br).map(one))
        SkipOr(branches, branches.map(_.map(_.text).mkString(" AND "))
          .mkString("(", ") OR (", ")"))
      case other => SkipOpaque(s"<${other.sql}>")
    }
    try flat(resolveKnown(ColumnShim.expression(spark, predicate))).map(one)
    catch { case NonFatal(_) => Seq(SkipOpaque(s"<$predicate>")) }
  }

  /** A pushed `sources.Filter` re-expressed as a Column — for the
    * conjunct parser and for in-scan parquet pushdown. None when the
    * shape has no direct Column form (then only the post-scan
    * re-application filters it). */
  def filterToColumn(f: org.apache.spark.sql.sources.Filter): Option[Column] = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toSeq.map(lit): _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(child) => filterToColumn(child).map(!_)
      case _ => None
    }
  }

  /** A predicate literal normalized into the zone-map Long domain of
    * the column it compares against: integrals as-is, date literals to
    * epoch days, timestamp literals to epoch micros (NTZ anchored at
    * UTC, matching [[Versioned.statLongOf]]). None — conservative, the
    * row filter decides — when the literal's class or declared type
    * doesn't match the column's type family, so a cross-type
    * comparison is never pruned by unit-mismatched math (a date
    * literal's DAYS against a timestamp column's MICROS, a string
    * against anything). */
  private def litLong(colType: Option[DataType], value: Any,
                      declared: Option[DataType]): Option[Long] =
    colType match {
      case Some(ByteType | ShortType | IntegerType | LongType) =>
        val integralDecl = declared.forall {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
        value match {
          case v: java.lang.Byte if integralDecl => Some(v.longValue)
          case v: java.lang.Short if integralDecl => Some(v.longValue)
          case v: java.lang.Integer if integralDecl => Some(v.longValue)
          case v: java.lang.Long if integralDecl => Some(v.longValue)
          case _ => None
        }
      case Some(DateType) => value match {
        case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
        case d: java.time.LocalDate => Some(d.toEpochDay)
        case _ => None
      }
      case Some(TimestampType) => value match {
        case t: java.sql.Timestamp => Some(Versioned.statLongOf(t))
        case i: java.time.Instant => Some(Versioned.statLongOf(i))
        case _ => None
      }
      case Some(TimestampNTZType) => value match {
        case l: java.time.LocalDateTime => Some(Versioned.statLongOf(l))
        case _ => None
      }
      case _ => None
    }

  /** A path-encoded partition value parsed into the same Long domain
    * as [[litLong]], gated by the partition COLUMN's declared type
    * (the literal's type alone is not enough: a date literal against a
    * string partition column must not compare by rendered text). */
  def partLong(colType: Option[DataType], raw: String): Option[Long] =
    colType match {
      case Some(ByteType | ShortType | IntegerType | LongType) =>
        raw.toLongOption
      case Some(DateType) =>
        try Some(java.time.LocalDate.parse(raw).toEpochDay)
        catch { case _: java.time.format.DateTimeParseException => None }
      case _ => None
    }

  /** Does active file `f` survive conjunct `c`? Absent metadata always
    * keeps the file (conservative scan); partition values are EXACT
    * (constant per file), zone-map ranges prune only what the
    * archived [min, max] provably excludes, and null counts decide
    * IS [NOT] NULL plus the all-null-column case (no comparison is
    * satisfiable on a column with zero non-null values in the
    * file — SQL three-valued logic). */
  private def fileOk(st: CkptState, f: String, c: SkipConjunct): Boolean = {
    import Versioned.{RowsStatKey, nullsStatKey, partitionValuesOf,
      strPrefix8, strStatKey}
    val stats = st.stats
    def colType(name: String) =
      st.schema.fields.find(_.name == name).map(_.dataType)
    def fileStat(name: String): Option[(Long, Long)] =
      stats.get(f).flatMap(_.get(st.physOf(name)))
    def fileNulls(name: String): Option[Long] =
      stats.get(f).flatMap(_.get(nullsStatKey(st.physOf(name)))).map(_._1)
    def fileRows: Option[Long] =
      stats.get(f).flatMap(_.get(RowsStatKey)).map(_._1)
    def rangeOk(mn: Long, mx: Long, op: SkipOp, v: Long): Boolean = op match {
      case SkEq => v >= mn && v <= mx
      // != prunes only a single-point file whose sole value IS v
      case SkNe => !(mn == mx && mn == v)
      case SkLt => mn < v
      case SkLe => mn <= v
      case SkGt => mx > v
      case SkGe => mx >= v
    }
    def fileStrStat(name: String): Option[(Long, Long)] =
      stats.get(f).flatMap(_.get(strStatKey(st.physOf(name))))
    /** provably zero non-null values of `name` in this file — no
      * comparison or prefix match can be satisfied */
    def allNullOf(name: String): Boolean =
      (fileNulls(name), fileRows) match {
        case (Some(nNull), Some(n)) => n > 0 && nNull == n
        case _ => false
      }
    def strRangeOk(mn8: Long, mx8: Long, op: SkipOp, v: String): Boolean = {
      import java.lang.Long.{compareUnsigned => cmpU}
      val p = strPrefix8(v)
      op match {
        // p8 is a non-strict projection: equality prunes only when the
        // literal's prefix falls outside [mn8, mx8]; order bounds
        // prune only when the prefix PROVES the range empty (ties in
        // prefix space stay conservative)
        case SkEq => cmpU(p, mn8) >= 0 && cmpU(p, mx8) <= 0
        case SkNe => true // a p8 point can hide distinct full strings
        case SkLt | SkLe => cmpU(mn8, p) <= 0
        case SkGt | SkGe => cmpU(mx8, p) >= 0
      }
    }
    c match {
      case SkipOpaque(_) => true
      case SkipOr(branches, _) =>
        branches.exists(_.forall(fileOk(st, f, _)))
      case SkipNull(name, isNull, _) =>
        (fileNulls(name), fileRows) match {
          case (Some(nNull), Some(n)) => if (isNull) nNull > 0 else nNull < n
          case _ => true // no archived null counts: conservative
        }
      case SkipPrefix(name, prefix, _) =>
        if (st.partitionCols.contains(name))
          partitionValuesOf(f, st.partitionCols)(name) match {
            case None => false
            case Some(raw) =>
              // exact when the partition column is a string (the path
              // renders the value verbatim); conservative otherwise
              if (colType(name).forall(_ == StringType))
                raw.startsWith(prefix)
              else true
          }
        else if (colType(name).contains(StringType))
          !allNullOf(name) && fileStrStat(name).forall { case (mn8, mx8) =>
            import java.lang.Long.{compareUnsigned => cmpU}
            cmpU(strPrefix8(prefix, 0xff), mn8) >= 0 &&
              cmpU(strPrefix8(prefix), mx8) <= 0
          }
        else true // prefix over a non-string column: row filter decides
      case SkipBounds(name, alts, _) =>
        val allNull = allNullOf(name)
        def boundOk(op: SkipOp, value: Any,
                    declared: Option[DataType]): Boolean =
          if (st.partitionCols.contains(name)) {
            // the file's path-encoded value: constant per file, EXACT.
            // A null partition value satisfies no comparison (the row
            // filter would drop it anyway).
            partitionValuesOf(f, st.partitionCols)(name) match {
              case None => false
              case Some(raw) =>
                val ct = colType(name)
                (litLong(ct, value, declared), partLong(ct, raw)) match {
                  case (Some(v), Some(pv)) => rangeOk(pv, pv, op, v)
                  case _ if (op == SkEq || op == SkNe) &&
                      value.isInstanceOf[String] &&
                      declared.forall(_ == StringType) &&
                      ct.forall(_ == StringType) =>
                    if (op == SkEq) raw == value.toString
                    else raw != value.toString
                  case _ => true
                }
            }
          } else colType(name) match {
            case Some(StringType) if value.isInstanceOf[String] &&
                declared.forall(_ == StringType) =>
              fileStrStat(name).forall { case (mn8, mx8) =>
                strRangeOk(mn8, mx8, op, value.toString) }
            case ct => litLong(ct, value, declared) match {
              case Some(v) => fileStat(name)
                .forall { case (mn, mx) => rangeOk(mn, mx, op, v) }
              case None => true // unnormalizable literal: row filter decides
            }
          }
        !allNull && alts.exists { case (op, value, declared) =>
          boundOk(op, value, declared)
        }
    }
  }

  /** The files of `st` that survive every conjunct. */
  def keptFiles(st: CkptState, conjs: Seq[SkipConjunct]): Seq[String] =
    st.active.filter(f => conjs.forall(fileOk(st, f, _)))

  /** The pruning pass: the surviving files plus the per-conjunct
    * report. Each conjunct's `prunedFiles` counts what IT ALONE
    * excludes (overlaps between conjuncts are expected). */
  def plan(st: CkptState, conjs: Seq[SkipConjunct])
      : (Seq[String], SkipReport) = {
    import Versioned.{nullsStatKey, strStatKey}
    val total = st.active.size
    val stats = st.stats
    val perConj = conjs.map { c =>
      val pruned = c match {
        case SkipOpaque(_) => 0
        case _ => st.active.count(f => !fileOk(st, f, c))
      }
      def noStats(name: String): Boolean = {
        val k = st.physOf(name)
        !st.active.exists(f => stats.get(f).exists(m =>
          m.contains(k) || m.contains(strStatKey(k))))
      }
      val (skippable, detail) = c match {
        case SkipOpaque(_) =>
          (false, "unsupported shape - decided by the row filter only")
        case SkipBounds(name, _, _) if pruned == 0 &&
            !st.partitionCols.contains(name) && noStats(name) =>
          (true, s"no archived min/max stats for `$name` on any active " +
            "file (legacy commits or a non-stat type) - pruned nothing")
        case _: SkipBounds =>
          (true, s"zone-map/partition bounds pruned $pruned/$total files")
        case SkipPrefix(name, _, _) if pruned == 0 &&
            !st.partitionCols.contains(name) && noStats(name) =>
          (true, s"no archived string-prefix stats for `$name` on any " +
            "active file (legacy commits) - pruned nothing")
        case _: SkipPrefix =>
          (true, s"string-prefix bounds pruned $pruned/$total files")
        case SkipOr(branches, _)
            if branches.forall(_.forall(_.isInstanceOf[SkipOpaque])) =>
          (false, "no branch has a skippable shape - row filter only")
        case _: SkipOr =>
          (true, s"disjunction (all branches refuted) pruned " +
            s"$pruned/$total files")
        case SkipNull(name, _, _) if pruned == 0 &&
            !st.active.exists(f => stats.get(f)
              .exists(_.contains(nullsStatKey(st.physOf(name))))) =>
          (true, s"no archived null counts for `$name` on any active " +
            "file (legacy commits) - pruned nothing")
        case _: SkipNull =>
          (true, s"null-count stats pruned $pruned/$total files")
      }
      ConjunctReport(c.text, skippable, pruned, detail)
    }
    val kept = keptFiles(st, conjs)
    (kept, SkipReport(kept.size, total, perConj))
  }
}
