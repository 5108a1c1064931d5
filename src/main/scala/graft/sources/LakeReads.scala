package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Read planning: predicate extraction, dir/file pruning, snapshot resolution, time travel, DESCRIBE surfaces, clones, SQL handles, restore, bucketed reads, and the change feed.
  *
  * Mechanically split from the [[Lake]] object (one object, many
  * files): every member keeps its semantics and its package-private
  * reach; [[Lake]] mixes the traits back into the single public
  * surface. See Lake.scala for the protocol overview. */
private[graft] trait LakeReads { this: Lake.type =>

  private[sources] def attrName(e: org.apache.spark.sql.catalyst.expressions.Expression):
      Option[String] = e match {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => Some(a.name)
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Some(u.name)
    // nested struct fields prune like flat columns: the dotted path
    // is the stats/bloom key (`meta.v`), and the NULL semantics
    // match — a NULL container makes the field read NULL, which the
    // min/max range (computed over non-NULLs) never claims to bound
    case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
      attrName(g.child).map(_ + "." + g.extractFieldName)
    case _ => None
  }

  /** Normalized value of a CONSTANT expression: a literal, or a cast
    * of one (`lit("1998-01-01").cast("date")` — the everyday
    * programmatic spelling; SQL paths constant-fold before pushdown,
    * the Column path does not). The cast evaluates ONCE on the driver
    * under the session zone — exactly how the query's own filter will
    * evaluate it — and anything that fails to evaluate (bad parse,
    * ANSI overflow) contributes nothing. */
  private[sources] def constNorm(
      e: org.apache.spark.sql.catalyst.expressions.Expression):
      Option[NormVal] = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, dt) =>
      normLit(v, dt)
    case c: org.apache.spark.sql.catalyst.expressions.Cast =>
      constNorm(c.child).flatMap { _ =>
        scala.util.Try {
          val zoned =
            if (c.timeZoneId.isDefined) c
            else c.withTimeZone(org.apache.spark.sql.internal
              .SQLConf.get.sessionLocalTimeZone)
          normLit(zoned.eval(null), c.dataType)
        }.toOption.flatten
      }
    case _ => None
  }

  /** The conjuncts of `e` this pruner understands: comparisons and IN
    * between a bare column and constants. Anything else (OR trees,
    * casts of columns, function calls, subqueries — IS NULL aside)
    * contributes no conjunct — pruning quietly weakens, never
    * strengthens. */
  private[sources] def extractPreds(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[Pred] =
    extractPredsExact(e)._1

  /** [[extractPreds]] plus an EXACTNESS bit: true iff `e` is PRECISELY
    * the conjunction of the returned preds (every node understood).
    * Pruning only needs the conjuncts (an ignored conjunct can only
    * narrow the match, so "provably selects nothing" stays safe), but
    * [[deleteWhere]]'s metadata-only whole-dir drop needs the reverse
    * proof — "provably selects EVERYTHING" — which an ignored conjunct
    * would break: the real predicate could match fewer rows than the
    * understood part, and dropping the dir would delete too much. */
  private[sources] def extractPredsExact(
      e: org.apache.spark.sql.catalyst.expressions.Expression): (Seq[Pred], Boolean) = {
    import org.apache.spark.sql.catalyst.expressions._
    def lit1(x: Expression): Option[NormVal] = constNorm(x)
    def cmp(a: Expression, b: Expression, op: POp, flip: POp): (Seq[Pred], Boolean) =
      (attrName(a), lit1(b), attrName(b), lit1(a)) match {
        case (Some(c), Some(v), _, _) => (Seq(Pred(c, op, Seq(v))), true)
        case (_, _, Some(c), Some(v)) => (Seq(Pred(c, flip, Seq(v))), true)
        case _ => (Nil, false)
      }
    def inPred(a: Expression, vs: Seq[Expression]): (Seq[Pred], Boolean) =
      (attrName(a), vs.map(lit1)) match {
        case (Some(c), lits) if lits.nonEmpty && lits.forall(_.isDefined) =>
          (Seq(Pred(c, PEq, lits.flatten)), true)
        case _ => (Nil, false)
      }
    def both(a: Expression, b: Expression): (Seq[Pred], Boolean) = {
      val (pa, xa) = extractPredsExact(a)
      val (pb, xb) = extractPredsExact(b)
      (pa ++ pb, xa && xb)
    }
    e match {
      case And(a, b) => both(a, b)
      case EqualTo(a, b)            => cmp(a, b, PEq, PEq)
      case EqualNullSafe(a, b)      => cmp(a, b, PEq, PEq)
      case LessThan(a, b)           => cmp(a, b, PLt, PGt)
      case LessThanOrEqual(a, b)    => cmp(a, b, PLe, PGe)
      case GreaterThan(a, b)        => cmp(a, b, PGt, PLt)
      case GreaterThanOrEqual(a, b) => cmp(a, b, PGe, PLe)
      case In(a, vs) if vs.nonEmpty => inPred(a, vs)
      case IsNull(a) =>
        (attrName(a).map(c => Pred(c, PNull, Nil)).toSeq, attrName(a).isDefined)
      case IsNotNull(a) =>
        (attrName(a).map(c => Pred(c, PNotNull, Nil)).toSeq, attrName(a).isDefined)
      // sql-api Columns build operators as UNRESOLVED FUNCTION CALLS
      // ("=", "and", "in", …) — the shape the classic converter emits
      // for a `col("k") === 250` tree before analysis
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.lengthCompare(1) == 0 =>
        (f.nameParts.head.toLowerCase, f.arguments) match {
          case ("and", Seq(a, b))         => both(a, b)
          case ("=" | "==" | "<=>", Seq(a, b)) => cmp(a, b, PEq, PEq)
          case ("<", Seq(a, b))           => cmp(a, b, PLt, PGt)
          case ("<=", Seq(a, b))          => cmp(a, b, PLe, PGe)
          case (">", Seq(a, b))           => cmp(a, b, PGt, PLt)
          case (">=", Seq(a, b))          => cmp(a, b, PGe, PLe)
          case ("in", a +: vs)            => inPred(a, vs)
          case ("isnull", Seq(a)) =>
            (attrName(a).map(c => Pred(c, PNull, Nil)).toSeq, attrName(a).isDefined)
          case ("isnotnull", Seq(a)) =>
            (attrName(a).map(c => Pred(c, PNotNull, Nil)).toSeq, attrName(a).isDefined)
          case _ => (Nil, false)
        }
      case _ => (Nil, false)
    }
  }

  /** [[extractPredsExact]] lifted to the BOOLEAN STRUCTURE: AND/OR
    * nodes keep their shape, understood comparisons become leaves,
    * anything else collapses to [[PUnknown]] (which can never prove
    * exclusion). This is what lets `region = 'EU' OR region = 'US'`
    * prune: each disjunct prunes on its own and a dir survives only
    * if SOME disjunct might match it. */
  /** Exact leaf negation for the NOT pass: comparisons invert
    * (ranges are over NON-NULL values, and a negated comparison still
    * never matches NULL rows, so the inversion is sound evidence),
    * equality/IN becomes [[PNe]] (provable only against a whole-domain
    * witness — an exact partition tuple or a degenerate range), NULL
    * tests swap. */
  private def negatePred(p: Pred): PredTree = p.op match {
    case PEq      => PLeaf(Pred(p.col, PNe, p.values))
    case PNe      => PLeaf(Pred(p.col, PEq, p.values))
    case PLt      => PLeaf(Pred(p.col, PGe, p.values))
    case PLe      => PLeaf(Pred(p.col, PGt, p.values))
    case PGt      => PLeaf(Pred(p.col, PLe, p.values))
    case PGe      => PLeaf(Pred(p.col, PLt, p.values))
    case PNull    => PLeaf(Pred(p.col, PNotNull, Nil))
    case PNotNull => PLeaf(Pred(p.col, PNull, Nil))
  }

  /** The tree of NOT(e) — De Morgan over AND/OR, exact leaf inversion,
    * PUnknown wherever `e` is not PRECISELY understood (negating an
    * approximation would prune wrongly: the conjunct list is a
    * superset-safe weakening, but its negation would be a
    * strengthening). */
  private def negateTree(
      e: org.apache.spark.sql.catalyst.expressions.Expression): PredTree = {
    import org.apache.spark.sql.catalyst.expressions.{And, Not, Or}
    e match {
      case And(a, b) => POr(Seq(negateTree(a), negateTree(b)))
      case Or(a, b)  => PAnd(Seq(negateTree(a), negateTree(b)))
      case Not(inner) => extractTree(inner)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.lengthCompare(1) == 0 &&
            f.arguments.lengthCompare(2) == 0 &&
            f.nameParts.head.equalsIgnoreCase("and") =>
        POr(f.arguments.map(negateTree))
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.lengthCompare(1) == 0 &&
            f.arguments.lengthCompare(2) == 0 &&
            f.nameParts.head.equalsIgnoreCase("or") =>
        PAnd(f.arguments.map(negateTree))
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.lengthCompare(1) == 0 &&
            f.arguments.lengthCompare(1) == 0 &&
            (f.nameParts.head.equalsIgnoreCase("not") ||
              f.nameParts.head == "!") =>
        extractTree(f.arguments.head)
      // NULL-SAFE equality is the one two-valued comparison: `k <=> 5`
      // is FALSE (not NULL) for NULL rows, so NOT(k <=> 5) MATCHES
      // them — while its extracted PEq leaf negates to a PNe that
      // (correctly for plain `=`) treats NULL rows as never-matching.
      // Negating through that leaf would wrongly exclude NULL-holding
      // dirs; refuse instead (conservative, never wrong).
      case _: org.apache.spark.sql.catalyst.expressions.EqualNullSafe =>
        PUnknown
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.lengthCompare(1) == 0 &&
            f.nameParts.head == "<=>" =>
        PUnknown
      case other =>
        val (ps, exact) = extractPredsExact(other)
        if (!exact || ps.isEmpty)
          // a monotone-expression comparison inverts EXACTLY like a
          // plain one (the marker is precisely the comparison, and a
          // negated comparison still never matches NULL rows — the
          // whitelist maps are NULL-preserving); anything else refuses
          extractXformLeaf(other) match {
            case Some(PXform(c, fn, arg, op, vs)) =>
              val inv = op match {
                case PEq => Some(PNe)
                case PNe => Some(PEq)
                case PLt => Some(PGe)
                case PLe => Some(PGt)
                case PGt => Some(PLe)
                case PGe => Some(PLt)
                case _   => None
              }
              inv.map(o => PXform(c, fn, arg, o, vs): PredTree)
                .getOrElse(PUnknown)
            case _ => PUnknown
          }
        else if (ps.lengthCompare(1) == 0) negatePred(ps.head)
        else POr(ps.map(negatePred)) // NOT(p1 AND p2) = ¬p1 OR ¬p2
    }
  }

  private[sources] def extractTree(
      e: org.apache.spark.sql.catalyst.expressions.Expression): PredTree = {
    import org.apache.spark.sql.catalyst.expressions.{And, Not, Or}
    e match {
      case And(a, b) => PAnd(Seq(extractTree(a), extractTree(b)))
      case Or(a, b)  => POr(Seq(extractTree(a), extractTree(b)))
      case Not(inner) => negateTree(inner)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.lengthCompare(1) == 0 &&
            f.arguments.lengthCompare(1) == 0 &&
            (f.nameParts.head.equalsIgnoreCase("not") ||
              f.nameParts.head == "!") =>
        negateTree(f.arguments.head)
      // sql-api Columns arrive as unresolved function calls ("and",
      // "or", …) — the same shape extractPredsExact handles for leaves
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.lengthCompare(1) == 0 &&
            f.nameParts.head.equalsIgnoreCase("and") &&
            f.arguments.lengthCompare(2) == 0 =>
        PAnd(f.arguments.map(extractTree))
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.lengthCompare(1) == 0 &&
            f.nameParts.head.equalsIgnoreCase("or") &&
            f.arguments.lengthCompare(2) == 0 =>
        POr(f.arguments.map(extractTree))
      case other =>
        val ps = extractPreds(other)
        if (ps.nonEmpty) {
          if (ps.lengthCompare(1) == 0) PLeaf(ps.head)
          else PAnd(ps.map(PLeaf))
        } else extractXformLeaf(other).getOrElse(PUnknown)
    }
  }

  /** `f(col)` where f is on the MONOTONE whitelist (year / to_date /
    * date_trunc / trunc / cast-to-date): Some((column path, fn, unit
    * arg)). Matches both the unresolved Column spelling and the
    * analyzed shapes scan planning pushes — `year(ts)` analyzes to
    * `Year(Cast(ts AS DATE))`, and the composition of two monotone
    * maps stays monotone, so the cast unwraps to the attribute. */
  private def xformShape(
      e: org.apache.spark.sql.catalyst.expressions.Expression):
      Option[(String, String, Option[String])] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DateType, StringType}
    def dateArg(x: Expression): Option[String] = attrName(x).orElse(x match {
      case c: Cast if c.dataType == DateType => attrName(c.child)
      case _ => None
    })
    def unitOf(x: Expression): Option[String] = x match {
      case Literal(u, StringType) if u != null => Some(u.toString)
      case _ => None
    }
    // positive int literal (the prefix length of truncate[k]); the
    // start position must be literal 1 — any other start is not a
    // prefix and prefixes are the only monotone substring
    def posInt(x: Expression): Option[Int] = x match {
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType)
          if v > 0 => Some(v)
      case _ => None
    }
    def isOne(x: Expression): Boolean = x match {
      case Literal(1, org.apache.spark.sql.types.IntegerType) => true
      case _ => false
    }
    e match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.lengthCompare(1) == 0 =>
        (f.nameParts.head.toLowerCase(java.util.Locale.ROOT),
            f.arguments) match {
          case ("year", Seq(a)) => dateArg(a).map((_, "year", None))
          case ("to_date", Seq(a)) => attrName(a).map((_, "to_date", None))
          case ("date_trunc", Seq(u, a)) =>
            for (uu <- unitOf(u); c <- attrName(a))
              yield (c, "date_trunc", Some(uu))
          case ("trunc", Seq(a, u)) =>
            for (uu <- unitOf(u); c <- attrName(a))
              yield (c, "trunc", Some(uu))
          // Iceberg's truncate[k]: a character prefix is non-decreasing
          // under binary string order (shared bytes stay shared), so
          // `substring(c, 1, k) op lit` prunes on c's OWN string range
          case ("substring" | "substr", Seq(a, p, l)) if isOne(p) =>
            for (k <- posInt(l); c <- attrName(a))
              yield (c, "substr_prefix", Some(k.toString))
          case ("left", Seq(a, l)) =>
            for (k <- posInt(l); c <- attrName(a))
              yield (c, "substr_prefix", Some(k.toString))
          case _ => None
        }
      case y: Year => dateArg(y.child).map((_, "year", None))
      case t: TruncTimestamp =>
        for (u <- unitOf(t.format); c <- attrName(t.timestamp))
          yield (c, "date_trunc", Some(u))
      case t: TruncDate =>
        for (u <- unitOf(t.format); c <- attrName(t.date))
          yield (c, "trunc", Some(u))
      case s: Substring if isOne(s.pos) =>
        for (k <- posInt(s.len); c <- attrName(s.str))
          yield (c, "substr_prefix", Some(k.toString))
      case c: Cast if c.dataType == DateType =>
        attrName(c.child).map((_, "cast_date", None))
      case _ => None
    }
  }

  /** Comparison between a whitelist-monotone expression and literals →
    * an un-enriched [[PXform]] marker ([[enrichTree]] attaches the
    * evaluator, or degrades to PUnknown). Covers the resolved
    * comparisons scan planning pushes and the unresolved Column
    * spellings alike. */
  private def extractXformLeaf(
      e: org.apache.spark.sql.catalyst.expressions.Expression):
      Option[PredTree] = {
    import org.apache.spark.sql.catalyst.expressions._
    def lit1(x: Expression): Option[NormVal] = constNorm(x)
    def mk(a: Expression, b: Expression, op: POp, flip: POp): Option[PredTree] =
      (for (s <- xformShape(a); v <- lit1(b))
        yield PXform(s._1, s._2, s._3, op, Seq(v)))
        .orElse(for (s <- xformShape(b); v <- lit1(a))
          yield PXform(s._1, s._2, s._3, flip, Seq(v)))
    // `c LIKE 'p%'` / `startsWith(c, 'p')` ⟺ substring(c, 1, chars(p))
    // = 'p' — the everyday log-prefix predicate as prefix-equality
    def mkStarts(a: Expression, b: Expression): Option[PredTree] = b match {
      case Literal(p: org.apache.spark.unsafe.types.UTF8String,
          org.apache.spark.sql.types.StringType) if p != null &&
            p.numChars() > 0 =>
        attrName(a).map(c =>
          PXform(c, "substr_prefix", Some(p.numChars().toString),
            PEq, Seq(StrV(p))))
      case _ => None
    }
    e match {
      case EqualTo(a, b)            => mk(a, b, PEq, PEq)
      case LessThan(a, b)           => mk(a, b, PLt, PGt)
      case LessThanOrEqual(a, b)    => mk(a, b, PLe, PGe)
      case GreaterThan(a, b)        => mk(a, b, PGt, PLt)
      case GreaterThanOrEqual(a, b) => mk(a, b, PGe, PLe)
      case StartsWith(a, b)         => mkStarts(a, b)
      case In(a, vs) if vs.nonEmpty =>
        val lits = vs.map(lit1)
        if (lits.forall(_.isDefined))
          xformShape(a).map(s => PXform(s._1, s._2, s._3, PEq, lits.flatten))
        else None
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.lengthCompare(1) == 0 =>
        (f.nameParts.head.toLowerCase(java.util.Locale.ROOT),
            f.arguments) match {
          case ("=" | "==", Seq(a, b)) => mk(a, b, PEq, PEq)
          case ("<", Seq(a, b))        => mk(a, b, PLt, PGt)
          case ("<=", Seq(a, b))       => mk(a, b, PLe, PGe)
          case (">", Seq(a, b))        => mk(a, b, PGt, PLt)
          case (">=", Seq(a, b))       => mk(a, b, PGe, PLe)
          case ("in", a +: vs) if vs.nonEmpty =>
            val lits = vs.map(lit1)
            if (lits.forall(_.isDefined))
              xformShape(a).map(s =>
                PXform(s._1, s._2, s._3, PEq, lits.flatten))
            else None
          case ("startswith", Seq(a, b)) => mkStarts(a, b)
          case _ => None
        }
      case _ => None
    }
  }

  /** Analyzed-once evaluator for one whitelist expression over
    * `srcType`. None when the expression refuses to analyze, or when
    * it is session-zone-anchored under a zone with DST transitions —
    * the micros→local mapping is then NOT monotone (midnight
    * fall-backs exist in real zones), so the range map would prune
    * dirs that hold matches. Fixed-offset zones (UTC above all) are
    * provably monotone. Evaluation runs in the SAME session zone the
    * query's own filter evaluates in, so prune-time and scan-time
    * semantics can never diverge. */
  private[graft] def buildXformEval(spark: SparkSession, fn: String,
      arg: Option[String],
      srcType: org.apache.spark.sql.types.DataType):
      Option[NormVal => Option[NormVal]] = {
    import org.apache.spark.sql.catalyst.expressions.{
      Cast, TimeZoneAwareExpression, Literal => CLit}
    import org.apache.spark.sql.types._
    def quoted(u: String) = "'" + u.replace("'", "''") + "'"
    val textOpt = fn match {
      case "year"       => Some("year(c)")
      case "to_date"    => Some("to_date(c)")
      case "cast_date"  => Some("CAST(c AS DATE)")
      case "date_trunc" => arg.map(u => s"date_trunc(${quoted(u)}, c)")
      case "trunc"      => arg.map(u => s"trunc(c, ${quoted(u)})")
      case "substr_prefix" =>
        arg.flatMap(_.toIntOption).filter(_ > 0)
          .map(k => s"substring(c, 1, $k)")
      case _            => None
    }
    textOpt.flatMap { text =>
      scala.util.Try {
        val df0 = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          StructType(Seq(StructField("c", srcType))))
        df0.select(org.apache.spark.sql.functions.expr(text))
          .queryExecution.analyzed.expressions.head match {
          case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
          case x => x
        }
      }.toOption
    }.flatMap { analyzed =>
      val tzDep = analyzed.find {
        case c: Cast => Cast.needsTimeZone(c.child.dataType, c.dataType)
        case _: TimeZoneAwareExpression => true
        case _ => false
      }.isDefined
      val zoneFixed = scala.util.Try(java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone).getRules.isFixedOffset)
        .getOrElse(false)
      if (tzDep && !zoneFixed) None
      else Some { (nv: NormVal) =>
        val internalOpt: Option[Any] = nv match {
          case NumV(bd) => srcType match {
            case DateType => scala.util.Try(bd.toIntExact).toOption
            case TimestampType | TimestampNTZType =>
              scala.util.Try(bd.toLongExact).toOption
            case _ => None
          }
          case StrV(u) if srcType == StringType => Some(u)
          case _ => None
        }
        internalOpt.flatMap { internal =>
          scala.util.Try {
            val sub = analyzed.transform {
              case _: org.apache.spark.sql.catalyst.expressions
                  .AttributeReference => CLit(internal, srcType)
            }
            normLit(sub.eval(null), sub.dataType)
          }.toOption.flatten
        }
      }
    }
  }

  /** Convert one [[PXform]] marker into an evaluator-carrying leaf
    * against snapshot `v`'s committed schema: temporal maps need a
    * TEMPORAL source (string order is not monotone under date
    * parsing) and the evaluator's zone guard; the prefix map needs a
    * BINARY-collated STRING source (truncation is not monotone under
    * linguistic collations). The returned Pred still carries the
    * LOGICAL column path. */
  private def xformLeaf(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, r: Path, v: Long,
      x: PXform): Option[Pred] = {
    import org.apache.spark.sql.types._
    val schema = tableMeta(fs, r, v).schema.getOrElse(return None)
    val res = org.apache.spark.sql.internal.SQLConf.get.resolver
    def typeAt(st: StructType, segs: Seq[String]): Option[DataType] =
      segs match {
        case Seq(one) => st.fields.find(f => res(f.name, one)).map(_.dataType)
        case h +: t => st.fields.find(f => res(f.name, h))
          .map(_.dataType).flatMap {
            case s: StructType => typeAt(s, t)
            case _ => None
          }
        case _ => None
      }
    typeAt(schema, x.col.split('.').toSeq).filter { dt =>
      x.fn match {
        // prefix truncation is monotone only under BINARY string
        // order: `dt == StringType` matches exactly the UTF8_BINARY
        // collation (collated types compare unequal), and a session
        // default collation would make the QUERY's comparison
        // non-binary even on a binary-typed column — refuse both
        case "substr_prefix" =>
          dt == StringType && scala.util.Try(
            spark.conf.get("spark.sql.session.collation.default",
              "UTF8_BINARY")).getOrElse("UTF8_BINARY")
            .equalsIgnoreCase("UTF8_BINARY")
        case _ =>
          dt == DateType || dt == TimestampType || dt == TimestampNTZType
      }
    }
      .flatMap(dt => buildXformEval(spark, x.fn, x.arg, dt))
      .map(f => Pred(x.col, x.op, x.values, Some(f)))
  }

  /** Leaf enrichment for the tree pruner: each understood leaf gains
    * its generated-partition derivations (valid in ANY boolean
    * context — `p` implies `derived(p)` row-for-row, so the
    * conjunction rides inside the leaf's position) and re-keys to
    * physical names. Mirrors the `predsToPhysical(logical ++
    * deriveGenPreds(logical))` pipeline the conjunct path runs. */
  private[sources] def enrichTree(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, r: Path, v: Long,
      t: PredTree): PredTree = {
    val meta = tableMeta(fs, r, v)
    val map = meta.colMap
    def phys(p: Pred): Pred =
      if (map.isEmpty) p else p.copy(col = physName(map, p.col))
    def go(t: PredTree): PredTree = t match {
      case PLeaf(p) =>
        val derived = deriveGenPreds(spark, fs, r, v, Seq(p))
        if (derived.isEmpty) PLeaf(phys(p))
        else PAnd(PLeaf(phys(p)) +: derived.map(d => PLeaf(phys(d))))
      case PAnd(cs) => PAnd(cs.map(go))
      case POr(cs)  => POr(cs.map(go))
      case PUnknown => PUnknown
      // monotone-expression comparisons gain their evaluator here
      // (temporal source + zone guard), then prune on the SOURCE
      // column's own stats/partition evidence — the skipping Delta
      // derives for `WHERE year(o_orderdate) = 1996` without a
      // generated partition column
      case x: PXform =>
        val direct = xformLeaf(spark, fs, r, v, x).map(p => PLeaf(phys(p)))
        // a GENERATED column declared as EXACTLY this expression
        // carries the mapped value physically — the comparison holds
        // on it row-for-row, so its partition tuples/stats prune even
        // when the SOURCE column carries no evidence. Zone guard: the
        // stored values froze under the establishing session's zone
        // (#genparttz), so derive only when the reading zone matches.
        val tzOk = meta.genTz.forall(
          _ == spark.sessionState.conf.sessionLocalTimeZone)
        val viaGen =
          if (!tzOk) None
          else meta.genAll.collectFirst {
            case (p, text) if scala.util.Try(
                spark.sessionState.sqlParser.parseExpression(text))
                .toOption.flatMap(xformShape)
                .contains((x.col, x.fn, x.arg)) =>
              PLeaf(phys(Pred(p, x.op, x.values)))
          }
        (direct, viaGen) match {
          case (Some(a), Some(b)) => PAnd(Seq(a, b))
          case (Some(a), None)    => a
          case (None, Some(b))    => b
          case _                  => PUnknown
        }
    }
    go(t)
  }

  /** Can `p` provably select NOTHING from a dir whose stat range for
    * `p.col` is [lo, hi]? NULL rows never satisfy a comparison, so a
    * range over the non-NULL values is sufficient evidence. A
    * transformed leaf (`year(ts) op v`) maps the range through its
    * monotone evaluator first: f non-decreasing means every row's
    * f(x) lies in [f(lo), f(hi)], so exclusion against the mapped
    * range is exact; a mapping failure keeps the dir. */
  private[sources] def predExcludes(lo: NormVal, hi: NormVal, p: Pred): Boolean =
    p.xform match {
      case Some(f) =>
        (for (flo <- f(lo); fhi <- f(hi))
          yield predExcludesBase(flo, fhi, p)).getOrElse(false)
      case None => predExcludesBase(lo, hi, p)
    }

  private def predExcludesBase(lo: NormVal, hi: NormVal, p: Pred): Boolean = p.op match {
    case PEq => p.values.forall(v =>
      (for (a <- cmpNorm(v, lo); b <- cmpNorm(v, hi)) yield a < 0 || b > 0)
        .getOrElse(false))
    case PLt => cmpNorm(lo, p.values.head).exists(_ >= 0)
    case PLe => cmpNorm(lo, p.values.head).exists(_ > 0)
    case PGt => cmpNorm(hi, p.values.head).exists(_ <= 0)
    case PGe => cmpNorm(hi, p.values.head).exists(_ < 0)
    // NOT-equality: excludable only when the dir's whole non-NULL
    // domain is ONE value and that value is in the refused set
    case PNe => cmpNorm(lo, hi).contains(0) &&
      p.values.exists(v => cmpNorm(v, lo).contains(0))
    // a range over the non-NULL values proves nothing about NULLs
    case PNull | PNotNull => false
  }

  /** Does `p` provably select NOTHING from a dir whose partition
    * value for `p.col` is exactly `v` (None = every row NULL)? Unlike
    * stats ranges this is EXACT per-row knowledge: every row of the
    * dir carries the tuple, so NULL tests answer too. */
  private[sources] def partValueExcludes(v: Option[NormVal], p: Pred): Boolean = v match {
    case Some(x) => p.op match {
      case PNull    => true  // single non-NULL value: IS NULL matches nothing
      case PNotNull => false
      case _        => predExcludes(x, x, p)
    }
    case None => p.op match {
      case PNull => false    // the NULL partition IS the match
      case _     => true     // comparisons/IN/IS NOT NULL: nothing matches
    }
  }

  /** Does `p` provably select EVERY row of a dir whose partition value
    * for `p.col` is exactly `v`? No nullability gate needed — the
    * value IS each row's value. */
  private[sources] def partValueIncludesAll(v: Option[NormVal], p: Pred): Boolean = v match {
    case Some(x) => p.op match {
      case PNull    => false
      case PNotNull => true
      case _        => predIncludesAll(x, x, p)
    }
    case None => p.op == PNull
  }

  /** Can `p` provably select EVERY row of a dir whose NON-NULL value
    * range for `p.col` is [lo, hi]? Caller must separately prove the
    * column holds no NULLs in the dir (a NULL never satisfies a
    * comparison, so a dir with NULL rows is never all-match) — see
    * [[deleteWhere]]'s non-nullable-schema gate. */
  private[sources] def predIncludesAll(lo: NormVal, hi: NormVal, p: Pred): Boolean =
    // transformed leaves are exclusion-side only: the whole-dir DROP
    // proofs stay untransformed (extractPredsExact never emits them),
    // and anything that slipped through stays conservative
    if (p.xform.isDefined) false else p.op match {
    // every non-null value equals lo (=hi) and that value is in the set
    case PEq => cmpNorm(lo, hi).contains(0) &&
      p.values.exists(v => cmpNorm(v, lo).contains(0))
    case PLt => cmpNorm(hi, p.values.head).exists(_ < 0)
    case PLe => cmpNorm(hi, p.values.head).exists(_ <= 0)
    case PGt => cmpNorm(lo, p.values.head).exists(_ > 0)
    case PGe => cmpNorm(lo, p.values.head).exists(_ >= 0)
    // NOT-equality selects everything iff the whole (non-NULL) domain
    // is one value provably OUTSIDE the refused set
    case PNe => cmpNorm(lo, hi).contains(0) &&
      p.values.forall(v => cmpNorm(v, lo).exists(_ != 0))
    // under the caller's no-NULLs proof, IS NOT NULL is everything
    // and IS NULL is nothing
    case PNotNull => true
    case PNull => false
  }

  /** (kept, skipped) dirs of the live snapshot under `predicate` —
    * the pruning decision [[readCommittedWhere]] acts on, exposed for
    * the spec to assert skipping actually happens. */
  private[graft] def pruneDirs(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column): (Seq[String], Seq[String]) = {
    val cur = currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed table at $root"))
    // same leaf enrichment as the real read paths: generated-column
    // derivation + logical→physical re-keying (per-dir lines are
    // keyed physically — a renamed column's stats still prune)
    pruneDirsTreeAt(spark, root, cur,
      enrichTree(spark, fsFor(spark, root), new Path(root), cur,
        extractTree(org.apache.spark.sql.graft.Shim.catalystTree(predicate))))
  }

  /** Flat-conjunction compatibility spelling — the mutation engines
    * (DELETE/UPDATE touched-dir partitions) still speak conjunct
    * lists; a list IS the AND tree of its leaves. */
  private[sources] def pruneDirsAt(spark: SparkSession, root: String,
      version: Long, preds: Seq[Pred]): (Seq[String], Seq[String]) =
    pruneDirsTreeAt(spark, root, version,
      if (preds.isEmpty) PUnknown else PAnd(preds.map(PLeaf)))

  /** THE per-dir pruning decision, over whatever per-dir metadata the
    * caller assembled — the full path hands it the memoized whole-
    * snapshot map, the partial scan path the map of the segments a
    * summary could not exclude. One implementation, so segment-level
    * skipping can never diverge from per-dir skipping on a rule. */
  private[sources] def partitionDirsTree(dirs: Seq[String],
      dirMeta: Map[String, DirMeta], tree: PredTree):
      (Seq[String], Seq[String]) =
    dirs.partition { d =>
      // per-dir evidence, parsed lazily once and shared by every leaf:
      // exact partition tuples (answer NULL tests too), min/max
      // ranges, and bloom membership for equality lookups the ranges
      // can't answer. A leaf excludes when ANY evidence source proves
      // it; the tree combines leaves (OR keeps a dir unless BOTH
      // disjuncts exclude it).
      val m = dirMeta.getOrElse(d, DirMeta.empty)
      lazy val pv = m.part.map(parsePartJson)
      lazy val st = m.stats.map(parseStatsJson)
      lazy val bf = m.bloom.map(parseBloomJson)
      def leafExcl(p: Pred): Boolean =
        pv.exists(m => m.get(p.col).exists(partValueExcludes(_, p))) ||
        st.exists(m => m.get(p.col).exists {
          case (lo, hi) => predExcludes(lo, hi, p) }) ||
        bf.exists(bfs => bloomExcludes(bfs, p))
      !treeExcludes(tree, leafExcl)
    }

  private[sources] def pruneDirsTreeAt(spark: SparkSession, root: String,
      version: Long, tree: PredTree): (Seq[String], Seq[String]) = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val dirs = manifestDirs(fs, r, version)
    if (!treeHasLeaves(tree)) return (dirs, Nil)
    partitionDirsTree(dirs, dirMeta(fs, r, version), tree)
  }

  /** Scan-planning prune with SEGMENT-LEVEL skipping: on a tiered
    * snapshot, segments whose `#segsum_` summary range-excludes the
    * predicate are dropped WITHOUT reading their side files
    * ([[manifestBodyPartial]]); the survivors' dirs then prune through
    * the same [[partitionDirsTree]] as everything else. The evidence a
    * summary is checked against is the same [[predExcludes]] rule a
    * per-dir stats range answers, so a skipped segment's dirs are
    * exactly dirs the full expansion would also have excluded
    * (LakeSegSpec pins partial ≡ full with random predicates).
    * Returns kept/named-skipped dirs, the unread-skipped dir count,
    * and the per-dir metadata the scan still needs (file stats +
    * deletion vectors) RESTRICTED to the partial body — excluded
    * segments' metadata is never materialized. */
  private[sources] final case class ScanPrune(kept: Seq[String],
      skippedNamed: Seq[String], unreadSkippedDirs: Long,
      dirMeta: Map[String, DirMeta])

  private[sources] def scanPruneAt(spark: SparkSession, root: String,
      version: Long, tree: PredTree): ScanPrune = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    def full(): ScanPrune = {
      val (kept, skipped) = pruneDirsTreeAt(spark, root, version, tree)
      ScanPrune(kept, skipped, 0L, dirMeta(fs, r, version))
    }
    if (!treeHasLeaves(tree)) return full()
    def segExcl(sum: Map[String, (NormVal, NormVal)]): Boolean =
      treeExcludes(tree, p => sum.get(p.col).exists {
        case (lo, hi) => predExcludes(lo, hi, p) })
    val (lines, unread) = manifestBodyPartial(fs, r, version, segExcl)
    // nothing skippable: the memoized whole-snapshot map is the
    // cheaper evidence (warm across queries; the partial body would
    // rebuild per call)
    if (unread == 0L) return full()
    val dirs = lines.filterNot(_.startsWith("#"))
    val partial = DirMeta.parse(lines)
    val (kept, skippedNamed) = partitionDirsTree(dirs, partial, tree)
    ScanPrune(kept, skippedNamed, unread, partial)
  }

  /** Partition a kept dir's parquet files by its manifest file-level
    * stats: (kept, skipped). The actual listing is authoritative — a
    * file the manifest doesn't know is always kept (never trust stats
    * lines for absence). */
  private[sources] def splitDirFilesTree(fs: org.apache.hadoop.fs.FileSystem,
      r: Path, d: String, byFile: Map[String, String], tree: PredTree):
      (Seq[org.apache.hadoop.fs.FileStatus], Seq[org.apache.hadoop.fs.FileStatus]) =
    fs.listStatus(new Path(r, d)).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .partition { f =>
        byFile.get(f.getPath.getName).map(parseStatsJson) match {
          case Some(st) => !treeExcludes(tree, pr =>
            st.get(pr.col).exists { case (lo, hi) => predExcludes(lo, hi, pr) })
          case None => true
        }
      }

  /** The scan set for a predicate read of the live snapshot:
    * (paths to read — dirs, or explicit files where file stats pruned
    * inside a kept dir; skipped dirs; skipped files). Exposed for the
    * spec to assert skipping actually happens. */
  private[graft] def resolveWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column):
      (Seq[String], Seq[String], Seq[String]) = {
    val (paths, skippedDirs, skippedFiles, _) =
      resolveWhereWithDvs(spark, root, predicate)
    (paths, skippedDirs, skippedFiles)
  }

  /** [[resolveWhere]] plus the kept dirs' deletion-vector lines — the
    * read path consumes only the vectors of the dirs it opens (skipped
    * dirs' and skipped segments' vectors belong to dirs the scan never
    * opens), so a selective read of a tiered table plans without
    * materializing the whole snapshot's metadata, and the vector walk
    * is O(kept dirs). */
  private[sources] def resolveWhereWithDvs(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column):
      (Seq[String], Seq[String], Seq[String], Map[String, String]) = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val cur = currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed table at $root"))
    // the user predicate names LOGICAL columns; every per-dir line is
    // keyed physically. The TREE keeps the predicate's AND/OR shape
    // (an OR of two prunable ranges skips; an OR with an unprunable
    // side keeps all); generated-column derivation rides per leaf.
    val tree = enrichTree(spark, fs, r, cur,
      extractTree(org.apache.spark.sql.graft.Shim.catalystTree(predicate)))
    val sp = scanPruneAt(spark, root, cur, tree)
    val prunable = treeHasLeaves(tree)
    val paths = Seq.newBuilder[String]
    val skippedFiles = Seq.newBuilder[String]
    sp.kept.foreach { d =>
      sp.dirMeta.get(d).map(_.files) match {
        case Some(byFile) if byFile.nonEmpty && prunable =>
          val (keep, skip) = splitDirFilesTree(fs, r, d, byFile, tree)
          if (skip.isEmpty) paths += new Path(r, d).toString
          else {
            paths ++= keep.map(_.getPath.toString)
            skippedFiles ++= skip.map(f => d + "/" + f.getPath.getName)
          }
        case _ => paths += new Path(r, d).toString
      }
    }
    (paths.result(), sp.skippedNamed, skippedFiles.result(),
      DirMeta.dvs(sp.dirMeta, sp.kept))
  }

  /** The pruned FILE set of snapshot `version` for catalyst predicate
    * conjuncts `filters` — the [[LakeFileIndex]] core. Dir-level
    * range/bloom pruning then file-level range pruning, identical
    * rules to [[resolveWhere]], but version-pinned and returning the
    * concrete `FileStatus`es Spark's scan planning consumes. With no
    * understood conjunct it degrades to the full snapshot listing. */
  private[sources] def scanFilesAt(spark: SparkSession, root: String,
      version: Long,
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]):
      Seq[org.apache.hadoop.fs.FileStatus] =
    scanDirFilesAt(spark, root, version, filters).flatMap(_._2)

  /** Predicate read with manifest-stats data skipping: scans only the
    * live snapshot's dirs — and, inside dirs carrying file-level
    * stats (see [[clusterCommitted]]), only the FILES — whose min/max
    * ranges can satisfy `predicate`, then applies the FULL predicate
    * to what it reads. Dirs/files without stats are kept and
    * non-understood conjuncts are ignored, so the result always
    * equals `readCommitted(...).where(predicate)`; only the I/O
    * shrinks. On a key- or time-ordered append table a selective
    * range read goes from O(table) to O(matching dirs/files) with one
    * manifest read of planning cost. */
  def readCommittedWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val (cur, curMeta) = liveSnapshot(spark, root)
    val (paths, _, _, dvs) = resolveWhereWithDvs(spark, root, predicate)
    val schemaOpt = curMeta.schema
    val map = curMeta.colMap
    if (paths.isEmpty) {
      val s = schemaOpt.getOrElse(spark.read.parquet(
        manifestDirs(fs, r, cur).map(d => new Path(r, d).toString): _*).schema)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        publicSchema(s)).where(predicate)
    }
    val base = schemaOpt match {
      case Some(s) => spark.read.schema(physSchema(s, map)).parquet(paths: _*)
      case None    => spark.read.parquet(paths: _*)
    }
    // the PARTIAL expansion's deletion vectors apply before the
    // predicate (paths may be pruned FILE paths — the vector keys by
    // dir basename + file, so a restriction is only ever a no-op
    // lookup, never a wrong row; skipped segments' vectors belong to
    // dirs this scan never opens). The broadcast cache key includes
    // the vector-map hash so a subset read and a full-snapshot read of
    // the same version each keep their own validated entry.
    val dvCacheKey = r.toString + "#" + dvs.keySet.toSeq.sorted.hashCode
    val withDv = dvColumn(spark, dvs, Some((dvCacheKey, cur)))
      .map(base.where).getOrElse(base)
    val logical = schemaOpt match {
      case Some(s) if map.nonEmpty => renameToLogical(withDv, s, map)
      case _ => withDv
    }
    val out = logical.where(predicate)
    if (out.columns.contains(RowIdCol)) out.drop(RowIdCol) else out
  }

  /** The commit instant of snapshot `v` in epoch millis: its `#ts=`
    * line ([[TableMeta.ts]]), else — for manifests predating the line —
    * the marker file's mtime. */
  private[sources] def commitMillis(fs: org.apache.hadoop.fs.FileSystem,
      r: Path, v: Long): Long =
    tableMeta(fs, r, v).ts.getOrElse(
      fs.getFileStatus(new Path(r, s"_commit_$v")).getModificationTime)

  /** Highest committed version at `root` whose snapshot is fully
    * present, if any. Manifests referencing lost data dirs are
    * ignored defensively (cannot arise from the protocol — the
    * manifest is renamed in strictly after the data job completes and
    * pruning never touches referenced dirs — but a half-vacuumed root
    * must degrade, not throw). Validation walks DOWN from the highest
    * manifest and stops at the first fully-present snapshot, so the
    * normal-path cost is one manifest read + the live snapshot's dir
    * checks — not O(all versions) metadata RPCs per resolve. */
  /** ONE root listing answers every relative-dir presence probe — a
    * per-dir fs.exists would be 10^5 point stats (NameNode RPCs at
    * scale) per resolution; only absolute entries (shallow-clone
    * references outside this root) still probe individually. Shared
    * by currentVersion and readableVersions so the two can never
    * disagree about which snapshots are present. */
  private def dirPresence(fs: org.apache.hadoop.fs.FileSystem,
      r: Path): String => Boolean = {
    lazy val children = rootChildNames(fs, r)
    d =>
      if (new Path(d).isAbsolute) fs.exists(new Path(r, d))
      else children.contains(d)
  }

  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val vs = committedVersions(fs, r)
    if (vs.isEmpty) return None
    val present = dirPresence(fs, r)
    vs.reverseIterator.find(v => manifestDirs(fs, r, v).forall(present))
  }

  /** Data-dir paths of the live snapshot — what readers scan. */
  def resolve(spark: SparkSession, root: String): Seq[String] = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    currentVersion(spark, root)
      .map(v => manifestDirs(fs, r, v).map(d => new Path(r, d).toString))
      .getOrElse(throw new java.util.NoSuchElementException(
        s"no committed table at $root"))
  }

  /** Committed versions whose snapshots are fully present — the
    * TIME-TRAVEL horizon, oldest first. Its breadth is the `retain`
    * lever: each commit keeps `retain` superseded snapshots readable,
    * so `retain = 7` on a daily overwrite gives a week of history. */
  def readableVersions(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val present = dirPresence(fs, r)
    committedVersions(fs, r)
      .filter(v => manifestDirs(fs, r, v).forall(present))
  }

  /** DESCRIBE HISTORY: one row per readable version with the operation
    * that committed it (`#op=` manifest line: overwrite / append /
    * merge / delete / update / compact / zorder / fold), its snapshot
    * dir count, and the metadata row count where the writer carried
    * one. Pure manifest metadata — no data file is opened, so the
    * audit trail of a 100 TB table answers from a handful of KB-sized
    * reads (bounded by the retention horizon, which also bounds the
    * driver-side row list). Pre-op manifests (older tables) report a
    * NULL op; the history's reach is the same as [[readCommittedAt]]'s.
    * @return (version, op, n_dirs, row_count) ordered by version */
  def describeHistory(spark: SparkSession, root: String):
      org.apache.spark.sql.DataFrame = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val out = readableVersions(spark, root).map { v =>
      // the manifest's own `#ts=` line IS the commit instant (what
      // TIMESTAMP AS OF / startingTimestamp resolve against); older
      // manifests without one fall back to the marker file's mtime
      val ts = scala.util.Try(new java.sql.Timestamp(
        commitMillis(fs, r, v))).getOrElse(null)
      // deletion-vector DEBT per version: dirs still carrying `#dv_`
      // lines and the total soft-deleted position count — what REORG
      // … APPLY (PURGE) exists to pay down; surfaced so the cost is
      // visible instead of silently taxing every read
      val dvs = DirMeta.dvs(dirMeta(fs, r, v))
      val dvRows = dvs.values.iterator
        .map(j => parseDvJson(j).values.iterator.map(_.length.toLong).sum)
        .sum
      org.apache.spark.sql.Row(v, ts, tableMeta(fs, r, v).op.orNull,
        manifestDirs(fs, r, v).size,
        tableMeta(fs, r, v).rows.map(java.lang.Long.valueOf).orNull,
        dvs.size, dvRows)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("version",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("commit_ts",
        org.apache.spark.sql.types.TimestampType, nullable = true),
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("n_dirs",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("row_count",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("dv_dirs",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("dv_rows",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava), schema)
  }

  /** `DESCRIBE DETAIL t` (Delta parity): ONE row describing the LIVE
    * snapshot — format, location, version, layout, properties and
    * deletion-vector debt. Everything except `num_files`/`size_bytes`
    * comes from the manifest alone; those two list each live dir once
    * (O(dirs) driver listings — an admin command, not a query-path
    * operation). */
  def describeDetail(spark: SparkSession, root: String):
      org.apache.spark.sql.DataFrame = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val v = currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed table at $root"))
    val dirs = manifestDirs(fs, r, v)
    var files = 0L; var bytes = 0L
    dirs.foreach { d =>
      fs.listStatus(new Path(r, d)).foreach { st =>
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
          files += 1L; bytes += st.getLen
        }
      }
    }
    val dvs = DirMeta.dvs(dirMeta(fs, r, v))
    val dvRows = dvs.values.iterator
      .map(j => parseDvJson(j).values.iterator.map(_.length.toLong).sum)
      .sum
    val meta = tableMeta(fs, r, v)
    val ts = scala.util.Try(new java.sql.Timestamp(
      commitMillis(fs, r, v))).getOrElse(null)
    val row = org.apache.spark.sql.Row(
      "graft-lake", root, v, ts,
      dirs.size, files, bytes,
      meta.rows.map(java.lang.Long.valueOf).orNull,
      meta.partCols.mkString(","),
      meta.bucketBy
        .map { case (n, cs) => s"$n:${cs.mkString(",")}" }.orNull,
      meta.props.toSeq.sortBy(_._1).map { case (k, pv) => s"$k=$pv" }
        .mkString(";"),
      dvs.size, dvRows,
      manifestSegRefs(fs, r, v).size,
      meta.requires.mkString(","))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("format",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("location",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("version",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("commit_ts",
        org.apache.spark.sql.types.TimestampType, nullable = true),
      org.apache.spark.sql.types.StructField("num_dirs",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("num_files",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("size_bytes",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("row_count",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("partition_columns",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("bucket_by",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("properties",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("dv_dirs",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("dv_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      // tiered-manifest segment count (0 = inline body) — how much of
      // the per-dir metadata rides in immutable side files
      org.apache.spark.sql.types.StructField("num_segments",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      // the #require= table features this snapshot declares — what an
      // older build would refuse on (empty = readable by any build)
      org.apache.spark.sql.types.StructField("table_features",
        org.apache.spark.sql.types.StringType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(Seq(row)).asJava),
      schema)
  }

  /** TIME TRAVEL: the table contents as of snapshot `version` —
    * exactly what `readCommitted` returned while that version was
    * live, byte-identical, because snapshots are immutable: a commit
    * only ever ADDS a version dir, and pruning deletes strictly
    * outside the retention horizon. Versions carry their OWN schema
    * (see [[TableMeta.schema]]), so a snapshot from before a schema
    * evolution reads back with its original columns.
    *
    * Fails fast with the readable horizon when `version` was pruned
    * (or never committed) — the fix is a larger `retain` at commit
    * time, the same reader-retention lever as any lakehouse VACUUM
    * horizon. */
  def readCommittedAt(spark: SparkSession, root: String,
      version: Long): org.apache.spark.sql.DataFrame = {
    val df = readCommittedAtRaw(spark, root, version)
    // the hidden row-id never reaches a user-facing read; the rewrite
    // engines (which must PRESERVE ids) read dirs with the carried
    // schema directly, and the diff engine uses the raw spelling
    if (df.columns.contains(RowIdCol)) df.drop(RowIdCol) else df
  }

  /** The live snapshot WITH the `_row_id` column exposed — the
    * supported surface for consumers that key external state by row
    * identity (the batch analog of Delta's `_metadata.row_id`).
    * Refuses untracked tables so a NULL-id column can never silently
    * stand in for identity. */
  def readCommittedWithRowId(spark: SparkSession,
      root: String): org.apache.spark.sql.DataFrame = {
    val cur = currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed table at $root"))
    require(tableMeta(fsFor(spark, root), new Path(root), cur).rowId.isDefined,
      s"the table at $root does not carry row tracking — enable it " +
        "(Lake.enableRowTracking / commitOverwrite(rowTracking = true))")
    readCommittedAtRaw(spark, root, cur)
  }

  /** [[readCommittedAt]] WITH the hidden row-tracking column (when the
    * table carries one) — the diff engine's and the specs' spelling. */
  private[graft] def readCommittedAtRaw(spark: SparkSession, root: String,
      version: Long): org.apache.spark.sql.DataFrame = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    def horizon = readableVersions(spark, root).mkString("[", ", ", "]")
    if (!fs.exists(new Path(r, s"_commit_$version")))
      throw new java.util.NoSuchElementException(
        s"version $version is not committed at $root (readable: $horizon) — " +
          "pruned past the retention horizon? Commit with a larger `retain` " +
          "to keep more history readable")
    val dirs = manifestDirs(fs, r, version)
    val missing = dirs.filterNot(d => fs.exists(new Path(r, d)))
    if (missing.nonEmpty)
      throw new java.util.NoSuchElementException(
        s"version $version at $root references lost data dirs " +
          s"${missing.mkString(", ")} (readable: $horizon)")
    tableMeta(fs, r, version).schema match {
      // index-planned read: the scan's file set resolves through the
      // LakeFileIndex at PLANNING time (lazily, with whatever filters
      // the query pushes), not through an eager spark.read listing of
      // every dir path — measured 30 s vs 0.4 s of driver time to
      // construct the read on a 10^4-dir append-heavy table, the
      // manifest-growth pathology (BENCH_NOTES round 11)
      case Some(s) => LakeFileIndex.relation(spark, root, version,
        org.apache.spark.sql.graft.Shim.asNullable(s))
      // legacy manifest without a schema line: footer inference needs
      // the eager listing anyway (deletion vectors still honored — a
      // pre-schema table can be DV-deleted like any other)
      case None =>
        val df = spark.read.parquet(dirs.map(d => new Path(r, d).toString): _*)
        dvColumn(spark, DirMeta.dvs(dirMeta(fs, r, version)),
            Some((r.toString, version)))
          .map(df.where).getOrElse(df)
    }
  }

  /** The live table contents (union of the snapshot's data dirs),
    * under the snapshot's committed schema when the manifest carries
    * one (schema-evolved appends read merged; no footer inference). */
  def readCommitted(spark: SparkSession, root: String) =
    readCommittedAt(spark, root, currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed table at $root")))

  /** Newest batch id the given checkpoint lineage committed through
    * [[LakeStreamSink]], read from `#op=stream-append …` manifest
    * lines newest-first (marker files outlive their data dirs until
    * retention prunes them — the skip horizon IS the retain lever). */
  private[sources] def lastStreamBatch(spark: SparkSession, root: String,
      lineage: String): Option[Long] = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val Parsed = """stream-append lineage=(\S+) batch=(\d+)""".r
    committedVersions(fs, r).reverseIterator
      .flatMap(v => tableMeta(fs, r, v).op)
      .collectFirst { case Parsed(l, b) if l == lineage => b.toLong }
  }

  // narrow manifest accessors for the in-package streaming source
  // ([[LakeStreamSource]]): dir NAMES, committed schema, and the raw
  // marker sequence of one snapshot, without widening the manifest
  // internals themselves
  private[graft] def snapshotDirNames(spark: SparkSession, root: String,
      version: Long): Seq[String] =
    manifestDirs(fsFor(spark, root), new Path(root), version)

  private[sources] def snapshotSchema(spark: SparkSession, root: String,
      version: Long): Option[org.apache.spark.sql.types.StructType] =
    tableMeta(fsFor(spark, root), new Path(root), version).schema

  private[sources] def committedVersionList(spark: SparkSession,
      root: String): Seq[Long] =
    committedVersions(fsFor(spark, root), new Path(root))

  private[sources] def snapshotOp(spark: SparkSession, root: String,
      version: Long): Option[String] =
    tableMeta(fsFor(spark, root), new Path(root), version).op

  /** ZERO-COPY SHALLOW CLONE: commit a NEW table at `dstRoot` whose
    * v0 manifest references snapshot `version` of `srcRoot` BY
    * ABSOLUTE PATH — no data moves, the clone of a 100 TB table costs
    * one manifest write. Version dirs are immutable, so the clone is
    * a consistent frozen snapshot: later source commits are invisible
    * to it, and clone appends write their own local dirs next to the
    * referenced ones (every reader resolves mixed absolute/relative
    * dir entries through the same `Path(root, dir)` rule). Dir-level
    * stats and bloom lines carry under the absolute names, so data
    * skipping keeps working on the clone; FILE-level `#fstats_` lines
    * are dropped (their key grammar is root-relative) — strictly
    * conservative, unknown files are always kept. The clone's
    * retention only ever sweeps dirs under ITS root, never the
    * source's.
    *
    * OWNERSHIP HAZARD (Delta's shallow-clone contract, stated not
    * hidden): the source still owns the referenced dirs — a source
    * retention prune or vacuum that drops the cloned snapshot's dirs
    * breaks the clone (readers then refuse, naming the lost dirs).
    * Clone from a snapshot the source retains, or deep-copy first.
    * @return the clone's committed version (always 0) */
  def cloneCommitted(spark: SparkSession, srcRoot: String, dstRoot: String,
      version: Option[Long] = None, retain: Int = -1): Long = {
    require(retain >= -1,
      s"retain must be >= 0 (or -1 = inherit $PropRetain), got $retain")
    require(!srcRoot.contains("=") && !srcRoot.contains("\n"),
      s"srcRoot must not contain '=' or newlines (manifest line grammar): $srcRoot")
    val fs = fsFor(spark, srcRoot)
    val sr = new Path(srcRoot)
    val v = version.getOrElse(currentVersion(spark, srcRoot).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed table at $srcRoot")))
    def horizon = readableVersions(spark, srcRoot).mkString("[", ", ", "]")
    if (!fs.exists(new Path(sr, s"_commit_$v")))
      throw new java.util.NoSuchElementException(
        s"version $v is not committed at $srcRoot (readable: $horizon)")
    val dirs = manifestDirs(fs, sr, v)
    val missing = dirs.filterNot(d => fs.exists(new Path(sr, d)))
    if (missing.nonEmpty)
      throw new java.util.NoSuchElementException(
        s"version $v at $srcRoot references lost data dirs " +
          s"${missing.mkString(", ")} (readable: $horizon)")
    if (currentVersion(spark, dstRoot).isDefined)
      throw new IllegalStateException(
        s"committed table already exists at $dstRoot — clone bootstraps a " +
          "NEW table; pick an empty root")
    val dfs = fsFor(spark, dstRoot)
    // by-reference sharing only works within ONE filesystem: a
    // scheme-less absolute path written into the clone manifest would
    // resolve against the DESTINATION's filesystem and read nothing
    if (fs.getUri != dfs.getUri)
      throw new IllegalArgumentException(
        s"shallow clone references data by path — source (${fs.getUri}) and " +
          s"destination (${dfs.getUri}) must share a filesystem; deep-copy " +
          "across filesystems instead (readCommittedAt + commitOverwrite)")
    // makeQualified: a relative srcRoot must not re-resolve under the
    // clone root at read time
    val abs = dirs.map(d => fs.makeQualified(new Path(sr, d)).toString)
    val toAbs = dirs.zip(abs).toMap
    val dr = new Path(dstRoot)
    dfs.mkdirs(dr)
    val src = tableMeta(fs, sr, v)
    if (!commitManifest(dfs, dr, 0L, abs, retain,
        schema = src.schema,
        rows = src.rows,
        // the source snapshot's per-dir lines carry under the absolute
        // dir names — deletion vectors included (read-side keys are dir
        // BASEnames, so relative/absolute entries resolve alike); file
        // stats do not
        dirMeta = dirMeta(fs, sr, v).map { case (d, m) =>
          toAbs.getOrElse(d, d) -> m.copy(files = Map.empty) },
        // the source's layout and mapping carry: the referenced dirs
        // store the SOURCE's physical names and ARE bucket-named
        // (written through the bucketed writer), so the clone keeps
        // co-located probes and its own appends stage bucketed under
        // the inherited property. Allocator state carries too: a clone
        // of an identity / row-tracked table keeps allocating past the
        // source's mark — without these lines the clone's appends
        // would stop stamping while the schema still carries the
        // columns. Constraints, properties and the COPY INTO ledger
        // stay the new root's own.
        meta = m => src.copy(checks = m.checks, props = m.props,
          ingested = m.ingested),
        colMap2Replace = true,
        op = s"clone $srcRoot@v$v"))
      throw new IllegalStateException(
        s"committed table already exists at $dstRoot — a concurrent writer " +
          "bootstrapped it during the clone; clone bootstraps a NEW table, " +
          "pick an empty root")
    0L
  }

  /** SQL-NATIVE read of a committed table: a DataFrame whose scan is
    * planned through a [[LakeFileIndex]], so data skipping fires on
    * whatever predicate the QUERY eventually applies — `spark.sql`
    * over a registered view, a joined-in filter, a `.where` added
    * three operators later — not just one passed up front the way
    * [[readCommittedWhere]] requires. Catalyst collects the scan's
    * data filters during planning and hands them to the index, which
    * prunes dirs (range + bloom) and files (clustered `#fstats_`)
    * with the SAME rules; Spark then applies the full predicate to
    * what is read, so the result never depends on pruning — only the
    * I/O shrinks. The relation keeps Spark's vectorized parquet
    * reader and whole-stage codegen, parquet footer pushdown
    * included; `sizeInBytes` reports the snapshot's true byte size so
    * a small lake table auto-broadcasts in joins.
    *
    * The handle is SNAPSHOT-PINNED at construction (explicit
    * `version` = time travel): every job over it — and every re-use
    * of a registered view — reads the same immutable snapshot even
    * across concurrent commits, the multi-job consistency a
    * live-resolving read cannot give. Re-call for the latest commit.
    * Schema is the snapshot's committed schema (old dirs read with
    * NULL backfill, same as [[readCommittedAt]]). */
  def sqlTable(spark: SparkSession, root: String,
      version: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val (v, schema) = resolveSnapshot(spark, root, version)
    LakeFileIndex.relation(spark, root, v, schema)
  }

  /** Validate-and-resolve one snapshot for index-planned reads: the
    * pinned (version, fully-nullable reading schema) pair behind
    * [[sqlTable]] and the `graft-lake` batch format. */
  private[sources] def resolveSnapshot(spark: SparkSession, root: String,
      version: Option[Long]): (Long, org.apache.spark.sql.types.StructType) = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val v = version.getOrElse(currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed table at $root")))
    def horizon = readableVersions(spark, root).mkString("[", ", ", "]")
    if (!fs.exists(new Path(r, s"_commit_$v")))
      throw new java.util.NoSuchElementException(
        s"version $v is not committed at $root (readable: $horizon)")
    val dirs = manifestDirs(fs, r, v)
    val missing = dirs.filterNot(d => fs.exists(new Path(r, d)))
    if (missing.nonEmpty)
      throw new java.util.NoSuchElementException(
        s"version $v at $root references lost data dirs " +
          s"${missing.mkString(", ")} (readable: $horizon)")
    // asNullable: files written before an overwrite-with-required
    // column may lack it; reading is always nullable, matching what
    // `spark.read.schema(...)` does on the readCommitted path
    val schema = org.apache.spark.sql.graft.Shim.asNullable(
      tableMeta(fs, r, v).schema.getOrElse(
        spark.read.parquet(dirs.map(d => new Path(r, d).toString): _*).schema))
    // the hidden row-id never reaches a user-facing relation
    (v, publicSchema(schema))
  }

  /** [[sqlTable]] registered as a temp view: `spark.sql("… FROM
    * name …")` plans through the manifest with data skipping. The
    * view holds the registration-time snapshot (consistent reads);
    * re-register to follow new commits. */
  def registerSql(spark: SparkSession, name: String, root: String,
      version: Option[Long] = None): Unit =
    sqlTable(spark, root, version).createOrReplaceTempView(name)

  /** RESTORE — roll the LIVE table back to a retained snapshot
    * (Delta's `RESTORE TABLE … TO VERSION AS OF`): commit `version`'s
    * dir list as the NEXT version. One manifest write, ZERO data I/O
    * at any table size — version dirs are immutable and the restored
    * ones are still on disk (that is what retention retains), so the
    * restore references them exactly like a shallow clone references
    * its source. History is preserved, not rewritten: the bad commits
    * stay readable behind the restore point (auditable), the change
    * feed across the restore emits the exact rows it retracts/revives
    * (downstream MVs keep folding), and restoring is itself
    * time-travelable. The restored dirs bring their own stats / bloom
    * / file-stats / partition lines from their manifest (the previous
    * version may have dropped them). Refuses when `version` is no
    * longer readable (named horizon), when its data dirs were swept,
    * or when the bucket layout changed across the restore range (the
    * old dirs would not satisfy the current naming contract).
    * Optimistically concurrent like every maintenance commit.
    * @return the committed version holding the restored snapshot */
  def restoreCommitted(spark: SparkSession, root: String,
      version: Long, retain: Int = -1): Long = {
    require(retain >= -1,
      s"retain must be >= 0 (or -1 = inherit $PropRetain), got $retain")
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val cur = currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed table at $root"))
    if (version == cur) return cur // restoring the live snapshot: no-op
    // validates the marker exists and every referenced dir survives
    val (_, pubSchema) = resolveSnapshot(spark, root, Some(version))
    // commit the RAW target schema: resolveSnapshot serves the
    // user-facing view, but the restored manifest must keep the
    // hidden row-tracking column the target's files physically carry
    val target = tableMeta(fs, r, version)
    val schema = org.apache.spark.sql.graft.Shim.asNullable(
      target.schema.getOrElse(pubSchema))
    require(target.bucketBy == tableMeta(fs, r, cur).bucketBy,
      s"the bucket layout changed between v$version and the live " +
        s"v$cur — restored dirs would not satisfy the current bucketed " +
        "read contract; re-layout with commitOverwrite instead")
    val dirs = manifestDirs(fs, r, version)
    val next = pinSlot(fs, r, cur)
    // per-dir lines restore with their dirs: the target's over the
    // previous snapshot's (the one the commit carries from), except
    // deletion vectors, which restore AUTHORITATIVELY — carrying a
    // live vector would re-kill rows the restore revives — so every
    // dir carrying one gets an entry too
    val targetMeta = dirMeta(fs, r, version)
    val prevMeta = committedVersions(fs, r).lastOption
      .map(dirMeta(fs, r, _)).getOrElse(Map.empty[String, DirMeta])
    val restored = (targetMeta.keySet ++
        prevMeta.iterator.collect { case (d, m) if m.dv.isDefined => d })
      .iterator.map { d =>
        val t = targetMeta.getOrElse(d, DirMeta.empty)
        val p = prevMeta.getOrElse(d, DirMeta.empty)
        d -> DirMeta(t.stats.orElse(p.stats),
          if (t.files.nonEmpty) t.files else p.files,
          t.bloom.orElse(p.bloom), t.part.orElse(p.part), t.dv)
      }.toMap
    if (!commitManifest(fs, r, next, dirs, retain,
        Some(schema), target.rows,
        dirMeta = restored,
        // table-level state restores to the TARGET's (Delta restores
        // metadata with data):
        //  - CHECK constraints: one added after `version` was never
        //    validated against these rows and must not silently claim
        //    to hold over them;
        //  - the column map, retired set, and the stat/bloom/partition
        //    column lists a drop may have shrunk: the restored dirs
        //    store the TARGET's physical names;
        //  - the id tree, AUTHORITATIVELY: reconciling against the
        //    LIVE tree would refuse re-surfacing a field dropped after
        //    the target (its tombstone is not part of the restored
        //    state — the restored dirs' bytes ARE that field's bytes);
        //  - properties and the identity mark (restored-away rows' ids
        //    become reusable exactly because the rows that consumed
        //    them are gone);
        //  - the row-id mark, None included: restoring to a
        //    pre-tracking version restores to untracked — the restored
        //    dirs carry no ids, so keeping the mark would leave a
        //    half-tracked table whose keyless feed can't pair.
        // The bucket layout (required equal above), the COPY INTO
        // ledger and an absent generated-column zone stay the live
        // ones.
        meta = m => target.copy(bucketBy = m.bucketBy, ingested = m.ingested,
          genTz = target.genTz.orElse(m.genTz)),
        colMap2Replace = true,
        op = s"restore v$version"))
      throw new java.util.ConcurrentModificationException(
        s"restore of $root to v$version lost version $next to a " +
          "concurrent commit — re-check the live table and retry")
    next
  }

  /** The declared bucket layout of one snapshot, as Spark's
    * [[org.apache.spark.sql.catalyst.catalog.BucketSpec]] — what the
    * relation assembly attaches so the scan exposes
    * `HashPartitioning(cols, n)`. Sort columns = bucket columns (the
    * staged writer sortBy's them). */
  private[sources] def bucketSpecAt(spark: SparkSession, root: String,
      version: Long): Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] = {
    val fs = fsFor(spark, root)
    // #bucketby stores PHYSICAL names; the relation's surface (and the
    // HashPartitioning its scan advertises) is LOGICAL
    val inv = tableMeta(fs, new Path(root), version).colMap.map(_.swap)
    tableMeta(fs, new Path(root), version).bucketBy.map { case (n, cols0) =>
      val cols = cols0.map(c => inv.getOrElse(c, c))
      org.apache.spark.sql.catalyst.catalog.BucketSpec(n, cols, cols)
    }
  }

  /** The live (or pinned) snapshot of a BUCKETED table as a DataFrame
    * whose scan carries the bucket layout: joins and aggregations on
    * the bucket key read this side with ZERO exchanges (the other side
    * shuffles to the bucket count; `spark.sql.shuffle.partitions` need
    * not match). Same pinned index-planned read as [[sqlTable]] — in
    * fact [[sqlTable]] and SQL catalog reads already carry the layout
    * when the manifest declares one; this entry point additionally
    * REFUSES when the table isn't bucketed, so a stored-index probe
    * can assert its co-location contract instead of silently
    * shuffling. */
  def readBucketed(spark: SparkSession, root: String,
      version: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val (v, schema) = resolveSnapshot(spark, root, version)
    require(bucketSpecAt(spark, root, v).isDefined,
      s"table at $root declares no bucket layout — commit with " +
        "bucketBy = Some((n, cols)) to establish one")
    LakeFileIndex.relation(spark, root, v, schema)
  }

  /** `TIMESTAMP AS OF` resolution: the LATEST version whose commit
    * landed at or before `tsMicros` (epoch micros) — Delta's
    * commit-timestamp semantics, answered from the manifests' own
    * `#ts=` lines (mtime fallback for pre-line manifests — see
    * [[TableMeta.ts]] for why mtimes alone are untrustworthy), no data
    * I/O. Refuses (with the readable horizon) when the timestamp
    * predates every retained commit. */
  def versionAsOf(spark: SparkSession, root: String, tsMicros: Long): Long = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val vs = committedVersions(fs, r)
    if (vs.isEmpty) throw new java.util.NoSuchElementException(
      s"no committed table at $root")
    vs.filter(v => commitMillis(fs, r, v) * 1000L <= tsMicros)
      .maxOption.getOrElse(throw new java.util.NoSuchElementException(
        s"no version committed at or before timestamp $tsMicros micros at " +
          s"$root (readable: ${readableVersions(spark, root).mkString("[", ", ", "]")})"))
  }

  /** CHANGE FEED: the exact NET row-level changes that turn snapshot
    * `fromVersion` into snapshot `toVersion` — each output row is a
    * `toVersion`-schema row plus `change_type` ∈ `insert` / `delete`
    * (the old image) / `update_preimage` + `update_postimage` (BOTH
    * images of a changed row, the Delta-CDF convention: retractable
    * consumers subtract the preimage and add the postimage, so a sum
    * or count maintained off the feed stays exact — see
    * [[graft.operators.Incremental.applyFeed]]; replication-style
    * consumers filter preimages out). This is what an incremental
    * downstream (a stat fold, a stored index, a replica) consumes
    * instead of re-reading the table; composing `Cdc.applyChanges`
    * over the postimage feed replays one committed table into
    * another.
    *
    * Derivation rides the manifest protocol instead of write-time
    * change files: version dirs are IMMUTABLE, so every changed row
    * lives in a dir the two snapshots do NOT share. The diff reads
    * only `dirs(from) Δ dirs(to)` — O(touched dirs), never O(table),
    * for append chains (removed side empty: pure inserts, no join at
    * all), merges (the touched-dir rewrites), and compactions
    * (row-preserving: every carried row pairs up equal and drops
    * out). An OVERWRITE in the range degenerates to a full two-sided
    * diff — still exact, priced honestly at O(both snapshots).
    *
    * Contract (same as [[mergeCommitted]] / `Cdc.applyChanges`):
    * `keyCols` identify a row uniquely within each snapshot. Rows
    * pair by key; paired rows compare null-safely column by column
    * under the `toVersion` schema (evolution only ADDS nullable
    * columns, so old dirs read under it with NULL backfill; a column
    * an overwrite dropped is invisible to the diff by construction).
    * MapType columns are refused — Spark cannot compare maps; feed
    * tables carry exploded pairs instead. */
  /** [[changesBetween]] with WALL-CLOCK boundaries (Delta's
    * `table_changes(t, '2026-01-01', …)`): each instant resolves to
    * the snapshot that was LIVE at that moment ([[versionAsOf]] —
    * latest commit at-or-before, off the manifests' own `#ts=`
    * lines), so "changes between instant A and instant B" is exactly
    * the diff of the snapshots a reader saw at A and at B. An instant
    * before the first retained commit refuses fast, naming the
    * readable horizon — consumers know wall-clock windows, not
    * version numbers. */
  def changesBetweenInstants(spark: SparkSession, root: String,
      fromTs: java.sql.Timestamp, toTs: java.sql.Timestamp,
      keyCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(!toTs.before(fromTs), s"fromTs $fromTs must be <= toTs $toTs")
    val from = versionAsOf(spark, root, fromTs.getTime * 1000L)
    val to = versionAsOf(spark, root, toTs.getTime * 1000L)
    changesBetween(spark, root, from, to, keyCols)
  }

  def changesBetween(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val fs = fsFor(spark, root)
    val r = new Path(root)
    // KEYLESS feed: with row tracking live, the hidden `_row_id` IS
    // the pairing key — exact update pre/postimages with no key
    // contract (Delta's row-tracking CDF). Without it, keys stay
    // required (pairing would otherwise degrade to insert+delete).
    val useRowId = keyCols.isEmpty
    if (useRowId) require(tableMeta(fs, r, toVersion).rowId.isDefined,
      s"changesBetween without keyCols needs row tracking on $root — " +
        "enable it (Lake.enableRowTracking / commitOverwrite(rowTracking " +
        "= true)) or pass the natural key columns")
    val effKeys = if (useRowId) Seq(RowIdCol) else keyCols
    // both endpoints must be readable — reuse the time-travel
    // resolution (fails fast naming the horizon when pruned)
    val to = readCommittedAt(spark, root, toVersion)
    // the diff runs over the RAW schema in keyless mode (`_row_id`
    // pairs, then drops from the output); a KEYED diff excludes the
    // id entirely — a merge-allocated fresh id must not flag a
    // value-identical row as an update
    val toSchemaFull = org.apache.spark.sql.graft.Shim.asNullable(
      tableMeta(fs, r, toVersion).schema.getOrElse(to.schema))
    val toSchema =
      if (useRowId) toSchemaFull else publicSchema(toSchemaFull)
    effKeys.foreach(k => require(toSchema.fieldNames.contains(k),
      s"key column '$k' not in the version-$toVersion schema " +
        toSchema.fieldNames.mkString("[", ", ", "]")))
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
      case _ => false
    }
    toSchema.fields.foreach(f => require(!hasMap(f.dataType),
      s"changesBetween cannot compare MapType column '${f.name}' — " +
        "store exploded (key, value) pairs instead"))
    if (fromVersion == toVersion)
      return to.limit(0).withColumn("change_type", lit(""))
    readCommittedAt(spark, root, fromVersion) // horizon check only
    // the diff reads BOTH endpoints under toVersion's schema. Under
    // id-mode, a mid-range RENAME/MOVE is readable: ids are stable, so
    // the old side translates each current field to its OLD logical
    // path through the id trees (bridge below) — the rename-crossing
    // feed Delta refuses. What still refuses: an id DROPPED inside the
    // range (a consumer folding the feed would silently lose that
    // column's final deletes) and a path RE-SERVED by a different id
    // (drop + re-add: old rows hold real values at the path under the
    // dead id — NULL pre-images would misattribute). NAME-mode tables
    // keep the flat refusal (no ids to translate through).
    val fromMeta = tableMeta(fs, r, fromVersion)
    val toMeta = tableMeta(fs, r, toVersion)
    val fromV2 = fromMeta.colMap2
    val toV2 = toMeta.colMap2
    val fromMap = fromMeta.colMap
    val toMap = toMeta.colMap
    // a mid-range UPGRADE: ids were assigned at the first in-range
    // tree-carrying commit `u` to the names current THERE; when the
    // flat mapping state is unchanged between fromVersion and u, those
    // ids name fromVersion's columns too, so u's tree serves as the
    // old side's tree and renames after the upgrade still translate
    val fromTreeEff: Option[ColMapV2] = fromV2.orElse {
      if (toV2.isEmpty) None
      else committedVersions(fs, r).iterator
        .filter(v => v > fromVersion && v <= toVersion)
        .map(tableMeta(fs, r, _)).find(_.colMap2.isDefined)
        .flatMap { u =>
          if (u.colMap == fromMap && u.retired == fromMeta.retired) u.colMap2
          else None
        }
    }
    val idMode = fromTreeEff.isDefined && toV2.isDefined
    if (!idMode && (fromMap != toMap || fromMeta.retired != toMeta.retired)) {
      val fromNames = fromMeta.schema
        .map(_.fieldNames.toSet).getOrElse(Set.empty)
      val fromPhys = fromMeta.schema
        .map(s => physSchema(s, fromMap).fieldNames.toSet)
        .getOrElse(Set.empty)
      val crossed = toSchema.fieldNames.filter { n =>
        val pTo = physName(toMap, n)
        if (fromNames.contains(n)) physName(fromMap, n) != pTo
        else fromPhys.contains(pTo)
      }
      require(crossed.isEmpty,
        s"changesBetween v$fromVersion..v$toVersion crosses a column " +
          s"rename/re-add of ${crossed.mkString("[", ", ", "]")} — read " +
          "the feed in two spans, split at the mapping commit (or " +
          "upgrade to id-mode column mapping, which serves " +
          "rename-crossing ranges)")
    }
    if (!idMode && toV2.isDefined && fromV2.isEmpty) {
      // upgrade inside the range: a relabeling of existing names
      // unless it tombstoned (a pre-upgrade drop cannot exist, so dead
      // entries mean a drop ALSO sits inside the range)
      val b = toV2.get
      require(b.dead.isEmpty,
        s"changesBetween v$fromVersion..v$toVersion crosses a nested " +
          s"drop (${b.dead.map { case (c, p) => s"<container $c>.$p" }
            .mkString("[", ", ", "]")}) — read the feed in two spans, " +
          "split at the mapping commit")
    }
    if (idMode && fromTreeEff != toV2) {
      val a = fromTreeEff.get
      val b = toV2.get
      val ap = colMap2Paths(a)
      val bp = colMap2Paths(b)
      val bIds = b.fields.map(_.id).toSet
      val dropped = a.fields.filterNot(f => bIds(f.id)).map(f => ap(f.id))
      val aIdByPath = ap.map(_.swap)
      val rekeyed = b.fields.flatMap(g =>
        aIdByPath.get(bp(g.id)).filter(_ != g.id).map(_ => bp(g.id)))
      require(dropped.isEmpty && rekeyed.isEmpty,
        s"changesBetween v$fromVersion..v$toVersion crosses a column " +
          s"drop/re-add of ${(dropped ++ rekeyed).distinct
            .mkString("[", ", ", "]")} — read the feed in two spans, " +
          "split at the mapping commit (renames alone translate " +
          "through the id tree and need no split)")
    }
    // old-side bridge: for each CURRENT field, the old logical path of
    // the SAME id (renames/moves translate; ids minted after
    // fromVersion read NULL — the column did not exist then). NULL
    // structs stay NULL (a struct() of NULL children is not NULL).
    val bridgeNeeded = idMode && fromTreeEff != toV2
    val bridgeOld: Option[org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame] =
      if (!bridgeNeeded) None
      else {
        val ap = colMap2Paths(fromTreeEff.get)
        val bIdByPath = colMap2Paths(toV2.get).map(_.swap)
        // a field added between fromVersion and a mid-range upgrade
        // carries a path u's tree knows but fromVersion's schema does
        // not — it did not exist at fromVersion: NULL
        val fromPaths: Set[String] = {
          def walk(st: org.apache.spark.sql.types.StructType,
              prefix: String): Seq[String] =
            st.fields.toSeq.flatMap { f =>
              val p = if (prefix.isEmpty) f.name else prefix + "." + f.name
              p +: (f.dataType match {
                case stc: org.apache.spark.sql.types.StructType =>
                  walk(stc, p)
                case _ => Nil
              })
            }
          fromMeta.schema
            .map(sc => walk(sc, "").toSet).getOrElse(Set.empty)
        }
        def quoted(path: String): String =
          path.split('.').map(s => "`" + s + "`").mkString(".")
        def bridgeFields(st: org.apache.spark.sql.types.StructType,
            prefix: String): Seq[org.apache.spark.sql.Column] =
          st.fields.toSeq.map { f =>
            val toPath = if (prefix.isEmpty) f.name else prefix + "." + f.name
            val fromPath = bIdByPath.get(toPath).flatMap(ap.get)
              .filter(fromPaths.contains)
            ((f.dataType, fromPath) match {
              case (_, None) => lit(null).cast(f.dataType)
              case (stc: org.apache.spark.sql.types.StructType, Some(fp)) =>
                when(col(quoted(fp)).isNull, lit(null).cast(f.dataType))
                  .otherwise(struct(bridgeFields(stc, toPath): _*)
                    .cast(f.dataType))
              case (dt, Some(fp)) => col(quoted(fp)).cast(dt)
            }).as(f.name)
          }
        Some(df => df.select(bridgeFields(toSchema, ""): _*))
      }
    // the diff unit is (dir, deletion-vector line): version dirs are
    // immutable, but a DV delete changes a dir's LIVE rows without
    // renaming it — such a dir joins both sides (old rows under the
    // old vector, new rows under the new), unchanged rows pair up and
    // drop out, and the newly soft-deleted rows surface as deletes
    def dirDvPairs(v: Long) = {
      val meta = dirMeta(fs, r, v)
      manifestDirs(fs, r, v)
        .map(d => d -> meta.get(d).flatMap(_.dv).getOrElse("")).toSet
    }
    val fromPairs = dirDvPairs(fromVersion)
    val toPairs = dirDvPairs(toVersion)
    val removed = (fromPairs -- toPairs).map(_._1).toSeq.sorted
    val added = (toPairs -- fromPairs).map(_._1).toSeq.sorted
    def readDirs(dirs: Seq[String], version: Long) =
      if (dirs.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), toSchema)
      else // shared superset schema (see contract), that version's DVs
        readDirsWithDv(spark, fs, r, version, dirs, Some(toSchema))
    val newSide = readDirs(added, toVersion)
    def publicOut(df: org.apache.spark.sql.DataFrame) =
      if (useRowId) df.drop(RowIdCol) else df
    if (removed.isEmpty) // append-only fast path: every added row is an insert
      return publicOut(newSide.withColumn("change_type", lit("insert")))
    val oldSide = bridgeOld match {
      case None => readDirs(removed, fromVersion)
      case Some(bridge) =>
        // read the old side under ITS OWN schema (old logical names),
        // then translate to the current shape through the id tree
        val fromSchemaRead = org.apache.spark.sql.graft.Shim.asNullable(
          fromMeta.schema.getOrElse(toSchemaFull))
        bridge(readDirsWithDv(spark, fs, r, fromVersion, removed,
          Some(fromSchemaRead)))
    }
    val valueCols = toSchema.fieldNames.filterNot(effKeys.contains).toSeq
    val o = oldSide.select(
      struct(effKeys.map(col): _*).as("__k"),
      struct(toSchema.fieldNames.map(col).toSeq: _*).as("__old"))
    val n = newSide.select(
      struct(effKeys.map(col): _*).as("__k"),
      struct(toSchema.fieldNames.map(col).toSeq: _*).as("__new"))
    val sameRow = valueCols
      .map(c => col("__old").getField(c) <=> col("__new").getField(c))
      .foldLeft(lit(true))(_ && _)
    // one key-shuffle over the CHANGED dirs only; carried-over rows
    // (a merge rewrites whole touched dirs, a compaction rewrites the
    // snapshot) pair up equal and drop out here
    val joined = o.join(n, Seq("__k"), "full_outer")
    def tagged(img: org.apache.spark.sql.Column, t: String) =
      struct(img.as("r"), lit(t).as("t"))
    val changes = when(col("__old").isNull, array(tagged(col("__new"), "insert")))
      .when(col("__new").isNull, array(tagged(col("__old"), "delete")))
      .when(!sameRow, array(tagged(col("__old"), "update_preimage"),
        tagged(col("__new"), "update_postimage")))
      .otherwise(array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("r", toSchema),
          org.apache.spark.sql.types.StructField("t",
            org.apache.spark.sql.types.StringType))))))
    publicOut(joined.select(explode(changes).as("__c"))
      .select(toSchema.fieldNames.map(f =>
        col("__c.r").getField(f).as(f)).toSeq :+
        col("__c.t").as("change_type"): _*))
  }

  /** Cursor pull for incremental consumers: the changes committed
    * after `lastSeen` (None = never read → the full live snapshot as
    * inserts), with the version the cursor should advance to. None
    * when there is nothing new. Poll + fold + persist the returned
    * version = an incremental reader of a committed table, the batch
    * dual of the streaming sinks (`Streams.statRefreshSink`). */
  def changesSince(spark: SparkSession, root: String, lastSeen: Option[Long],
      keyCols: Seq[String]): Option[(org.apache.spark.sql.DataFrame, Long)] = {
    import org.apache.spark.sql.functions._
    val cur = currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed table at $root"))
    lastSeen match {
      case None => Some((readCommitted(spark, root)
        .withColumn("change_type", lit("insert")), cur))
      case Some(v) if v >= cur => None
      case Some(v) => Some((changesBetween(spark, root, v, cur, keyCols), cur))
    }
  }

  /** Metadata-only exact `count(*)` of the live snapshot: one
    * manifest read, no scan — at 100 TB the difference between free
    * and a full-table job. None when the writer chain could not carry
    * the count (fall back to `readCommitted(...).count()`). */
  def countCommitted(spark: SparkSession, root: String): Option[Long] =
    currentVersion(spark, root)
      .flatMap(v => tableMeta(fsFor(spark, root), new Path(root), v).rows)

  /** [[countCommitted]] for a time-travel version. */
  def countCommittedAt(spark: SparkSession, root: String, version: Long): Option[Long] = {
    val fs = fsFor(spark, root)
    if (!fs.exists(new Path(new Path(root), s"_commit_$version"))) None
    else tableMeta(fs, new Path(root), version).rows
  }
}
