package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import graft.config.{ConfigError, JobSpec, SourceSpec, Interpolate}

/** SQL DML surface on VERSIONED tables (r10 verdict #5): a spark-sql
  * job's `sql:` may be a `MERGE INTO` / `UPDATE` / `DELETE FROM`
  * statement instead of a SELECT, and the engine routes it to the
  * table format's row-level operations ([[graft.sinks.VersionedTable]]
  * `.merge/.updateWhere/.deleteWhere`) — so a config user gets
  * file-pruned upserts and deletion-vector DML as ONE SQL statement,
  * without YAML maintenance blocks.
  *
  * The statement is parsed by SPARK'S OWN PARSER (no regex SQL dialect
  * of our own): `parsePlan` yields the Catalyst `MergeIntoTable` /
  * `UpdateTable` / `DeleteFromTable` command nodes, and this router
  * extracts the pieces the versioned API needs. The TARGET must be a
  * declared `input_tables` entry with `versioned: "true"` — that is
  * where the engine knows the table's physical location; naming an
  * unregistered table is a loud error, never a silent temp-view write.
  *
  * Supported shapes (each unsupported variant errors BY NAME):
  *  - `DELETE FROM t WHERE <cond>` → deletion-vector delete
  *  - `UPDATE t SET c = e, ... [WHERE <cond>]` → DV update + append
  *  - `MERGE INTO t USING <source> ON t.k = s.k [AND ...]` with the
  *    full ANSI action surface (r13, r12 verdict #3): `WHEN MATCHED
  *    [AND <cond>] THEN UPDATE SET * | UPDATE SET c = e, ... | DELETE`,
  *    `WHEN NOT MATCHED [AND <cond>] THEN INSERT * | INSERT (c, ...)
  *    VALUES (e, ...)`, and `WHEN NOT MATCHED BY SOURCE [AND <cond>]
  *    THEN UPDATE SET ... | DELETE`. The exact row-replace shape
  *    (`UPDATE SET * / INSERT *`, unconditional) takes the classic
  *    zone-map-pruned row-replace merge; every other combination runs
  *    [[graft.sinks.MergeActions]]' conditional evaluator with the
  *    file-carry contract preserved (only NOT MATCHED BY SOURCE — whose
  *    semantics touch every unmatched target row — forces a whole-table
  *    rewrite). ANSI scoping and the source-cardinality rule error by
  *    name ([[translateActions]]).
  *
  * Column references may carry the target/source alias (`t.cents`);
  * UPDATE/DELETE qualifiers are stripped after validation since the
  * versioned API evaluates expressions over the table's own columns;
  * MERGE action references are rewritten onto the evaluator's `t`/`s`
  * scope.
  */
object SqlDml {

  // leading whitespace and SQL comments (`-- ...` / `/* ... */`) are
  // stripped before the head-keyword test — a commented DML statement
  // must route here, not fall through to spark.sql() and die with a
  // raw "DELETE is only supported with v2 tables" analysis error
  private val LeadingTrivia = "(?s)^(?:\\s|--[^\\n]*(?:\\n|$)|/\\*.*?\\*/)+".r
  private val DmlHead = "(?is)^(MERGE|UPDATE|DELETE)\\b.*".r

  /** Cheap dispatch test — full validation happens in [[execute]]. */
  def isDml(sql: String): Boolean =
    DmlHead.pattern.matcher(LeadingTrivia.replaceFirstIn(sql, "")).matches()

  /** Parse + route one DML statement. Inputs must already be registered
    * as temp views (MERGE sources read them). Returns the post-DML
    * snapshot of the target table, so DML jobs compose with the same
    * read-back contract as every other engine path. */
  def execute(spark: SparkSession, job: JobSpec, vars: Map[String, String],
              sql: String): DataFrame = {
    if (job.outputTable.nonEmpty) throw new ConfigError(
      "a DML sql statement writes its target table in place — remove output_table")
    val plan =
      try org.apache.spark.sql.GraftSqlBridge.parsePlan(spark, sql)
      catch { case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        throw new ConfigError(s"DML sql failed to parse: ${e.getMessage}")
      }
    plan match {
      case DeleteFromTable(target, condition) =>
        val (name, loc, fmt, opts) = resolveTarget(spark, job, vars, target)
        val v = graft.sinks.VersionedTable.deleteWhere(
          spark, loc, stripQualifiers(condition).sql, fmt, opts)
        graft.log.Log.info("sql DELETE applied", "table" -> name,
          "location" -> loc, "version" -> s"v$v")
        // pinned to the version THIS statement committed — a concurrent
        // later commit must not leak into the returned snapshot (the MV
        // fresh-path discipline)
        graft.sinks.VersionedTable.read(spark, loc, asOf = Some(v),
          format = fmt, options = opts)

      case UpdateTable(target, assignments, condition) =>
        val (name, loc, fmt, opts) = resolveTarget(spark, job, vars, target)
        val set = assignments.map { a =>
          val col = a.key match {
            case u: UnresolvedAttribute => u.nameParts.last
            case other => throw new ConfigError(
              s"UPDATE SET target must be a column, got: ${other.sql}")
          }
          col -> stripQualifiers(a.value).sql
        }
        if (set.map(_._1).distinct.size != set.size) throw new ConfigError(
          s"UPDATE sets a column twice: ${set.map(_._1).mkString(", ")}")
        val where = condition.map(c => stripQualifiers(c).sql).getOrElse("true")
        val v = graft.sinks.VersionedTable.updateWhere(
          spark, loc, where, set.toMap, fmt, opts)
        graft.log.Log.info("sql UPDATE applied", "table" -> name,
          "location" -> loc, "version" -> s"v$v")
        graft.sinks.VersionedTable.read(spark, loc, asOf = Some(v),
          format = fmt, options = opts)

      case m: MergeIntoTable =>
        val (name, loc, fmt, opts) = resolveTarget(spark, job, vars, m.targetTable)
        val targetNames = aliasNames(m.targetTable)
        val sourceNames = aliasNames(m.sourceTable)
        val keys = equiKeys(m.mergeCondition, targetNames, sourceNames)
        val arrivals = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, m.sourceTable)
        // the full ANSI action surface routes to the versioned merge:
        // the exact row-replace shape takes the classic zone-map-pruned
        // anti-join+union path; anything else runs the conditional
        // evaluator (r12 verdict #3 — these were rejected by name)
        val actions = translateActions(spark, m, loc, fmt, opts,
          targetNames, sourceNames, arrivals.columns)
        val v = graft.sinks.VersionedTable.merge(
          spark, loc, arrivals, keys, fmt, opts,
          statsColumns = graft.sinks.VersionedTable.trackedStatsColumns(spark, loc),
          actions = actions)
        graft.log.Log.info("sql MERGE applied", "table" -> name,
          "location" -> loc, "version" -> s"v$v", "keys" -> keys.mkString(","))
        graft.sinks.VersionedTable.read(spark, loc, asOf = Some(v),
          format = fmt, options = opts)

      case other => throw new ConfigError(
        s"unsupported DML statement (${other.getClass.getSimpleName}) — " +
          "supported: DELETE FROM, UPDATE ... SET, MERGE INTO")
    }
  }

  /** Catalyst MERGE action nodes → [[graft.sinks.MergeActions]], with
    * the ANSI scoping rules enforced BY NAME at routing time:
    *   - matched actions (conditions + SET values) may reference the
    *     target and the source;
    *   - not-matched (insert) actions may reference the SOURCE only;
    *   - not-matched-BY-SOURCE actions may reference the TARGET only;
    *   - an unqualified column that exists on both in-scope sides is
    *     ambiguous (qualify it); assignment targets must be target
    *     columns; an action after an unconditional action in the same
    *     clause group is unreachable.
    * References are rewritten onto the evaluator's `t`/`s` struct
    * scope ([[graft.sinks.MergeActions]]) and passed as SQL strings,
    * so the statement's own alias spelling never leaks into the
    * versioned layer. */
  private def translateActions(spark: SparkSession, m: MergeIntoTable,
      loc: String, fmt: String, opts: Map[String, String],
      targetNames: Set[String], sourceNames: Set[String],
      sourceCols: Array[String]): graft.sinks.MergeActions = {
    import graft.sinks.MergeActions
    // the row-replace fast path keeps its unrestricted multi-row-key
    // semantics (and skips the target-schema read)
    (m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions) match {
      case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None)), Seq()) =>
        return MergeActions.RowReplace
      case _ => ()
    }
    val targetCols = graft.sinks.VersionedTable.read(spark, loc,
      format = fmt, options = opts).columns
    val tCols = targetCols.map(_.toLowerCase).toSet
    val sCols = sourceCols.map(_.toLowerCase).toSet

    def rewrite(e: Expression, allowTarget: Boolean, allowSource: Boolean,
                ctx: String): String = e.transform {
      case a: UnresolvedAttribute =>
        val last = a.nameParts.last
        val side =
          if (a.nameParts.size >= 2) {
            val q = a.nameParts.init.last.toLowerCase
            val resolved =
              if (targetNames.contains(q)) "t"
              else if (sourceNames.contains(q)) "s"
              else throw new ConfigError(
                s"MERGE $ctx references unknown qualifier '$q' — expected the " +
                  s"target (${targetNames.toSeq.sorted.mkString("/")}) or the " +
                  s"source (${sourceNames.toSeq.sorted.mkString("/")})")
            // the qualified COLUMN must exist on its side too — an
            // unknown qualified column passing routing would surface
            // later as a raw AnalysisException against the evaluator's
            // t/s structs, breaking the errors-by-name contract
            if (resolved == "t" && !tCols(last.toLowerCase)) throw new ConfigError(
              s"MERGE $ctx: unknown column '$last' on the target")
            if (resolved == "s" && !sCols(last.toLowerCase)) throw new ConfigError(
              s"MERGE $ctx: unknown column '$last' on the source")
            resolved
          } else {
            val t = tCols(last.toLowerCase) && allowTarget
            val s = sCols(last.toLowerCase) && allowSource
            if (t && s) throw new ConfigError(
              s"MERGE $ctx: unqualified column '$last' exists on both the " +
                "target and the source — qualify it")
            else if (t) "t"
            else if (s) "s"
            else if (tCols(last.toLowerCase) || sCols(last.toLowerCase)) "scope"
            else throw new ConfigError(s"MERGE $ctx: unknown column '$last'")
          }
        if (side == "t" && !allowTarget) throw new ConfigError(
          s"MERGE $ctx may not reference the target (column '$last') — " +
            "ANSI scope: insert actions see the source row only")
        if (side == "s" && !allowSource) throw new ConfigError(
          s"MERGE $ctx may not reference the source (column '$last') — " +
            "ANSI scope: NOT MATCHED BY SOURCE rows have no source row")
        if (side == "scope") throw new ConfigError(
          s"MERGE $ctx: column '$last' is out of scope here — " +
            (if (allowSource) "insert actions see the source row only"
             else "NOT MATCHED BY SOURCE actions see the target row only"))
        UnresolvedAttribute(Seq(side, last))
    }.sql

    def assignments(as: Seq[Assignment], allowTarget: Boolean,
                    allowSource: Boolean, ctx: String): Seq[(String, String)] = {
      val set = as.map { a =>
        val key = a.key match {
          case u: UnresolvedAttribute =>
            if (u.nameParts.size >= 2) {
              val q = u.nameParts.init.last.toLowerCase
              if (!targetNames.contains(q)) throw new ConfigError(
                s"MERGE $ctx assigns to '$q.${u.nameParts.last}' — " +
                  "assignment targets must be target columns")
            }
            u.nameParts.last
          case other => throw new ConfigError(
            s"MERGE $ctx assignment target must be a column, got: ${other.sql}")
        }
        if (!tCols(key.toLowerCase)) throw new ConfigError(
          s"MERGE $ctx assigns to unknown target column '$key'")
        key -> rewrite(a.value, allowTarget, allowSource, ctx)
      }
      if (set.map(_._1.toLowerCase).distinct.size != set.size) throw new ConfigError(
        s"MERGE $ctx assigns a column twice: ${set.map(_._1).mkString(", ")}")
      set
    }

    // action reachability (an unconditional action must be last in its
    // clause group) is enforced by Spark's parser itself
    // (NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION) — no second gate here
    val matched = m.matchedActions.map {
      case UpdateStarAction(c) => MergeActions.UpdateAll(
        c.map(rewrite(_, allowTarget = true, allowSource = true, "WHEN MATCHED condition")))
      case UpdateAction(c, as, _) => MergeActions.UpdateSet(
        c.map(rewrite(_, allowTarget = true, allowSource = true, "WHEN MATCHED condition")),
        assignments(as, allowTarget = true, allowSource = true, "WHEN MATCHED UPDATE"))
      case DeleteAction(c) => MergeActions.Delete(
        c.map(rewrite(_, allowTarget = true, allowSource = true, "WHEN MATCHED condition")))
      case other => throw new ConfigError(
        s"unsupported WHEN MATCHED action: ${other.getClass.getSimpleName}")
    }
    val notMatched = m.notMatchedActions.map {
      case InsertStarAction(c) => MergeActions.InsertAll(
        c.map(rewrite(_, allowTarget = false, allowSource = true, "WHEN NOT MATCHED condition")))
      case InsertAction(c, as) => MergeActions.InsertValues(
        c.map(rewrite(_, allowTarget = false, allowSource = true, "WHEN NOT MATCHED condition")),
        assignments(as, allowTarget = false, allowSource = true,
          "WHEN NOT MATCHED INSERT"))
      case other => throw new ConfigError(
        s"unsupported WHEN NOT MATCHED action: ${other.getClass.getSimpleName}")
    }
    val bySource = m.notMatchedBySourceActions.map {
      case UpdateAction(c, as, _) => MergeActions.BySourceUpdate(
        c.map(rewrite(_, allowTarget = true, allowSource = false,
          "WHEN NOT MATCHED BY SOURCE condition")),
        assignments(as, allowTarget = true, allowSource = false,
          "WHEN NOT MATCHED BY SOURCE UPDATE"))
      case DeleteAction(c) => MergeActions.BySourceDelete(
        c.map(rewrite(_, allowTarget = true, allowSource = false,
          "WHEN NOT MATCHED BY SOURCE condition")))
      case other => throw new ConfigError(
        s"unsupported WHEN NOT MATCHED BY SOURCE action: ${other.getClass.getSimpleName}")
    }
    MergeActions(matched, notMatched, bySource)
  }

  /** The DML target must be a declared versioned input — its config row
    * is the only place the engine learns the physical location. */
  private def resolveTarget(spark: SparkSession, job: JobSpec,
                            vars: Map[String, String], target: LogicalPlan)
      : (String, String, String, Map[String, String]) = {
    val name = tableName(target)
    val t = job.inputTables.find(_.name == name).getOrElse(throw new ConfigError(
      s"DML target '$name' is not a declared input_tables entry"))
    t.source match {
      case SourceSpec.Versioned(loc, fmt, opts, asOf, prune, asOfTs, branch) =>
        if (asOf.nonEmpty || asOfTs.nonEmpty) throw new ConfigError(
          s"DML target '$name' is pinned to a past version (as_of) — DML writes the latest snapshot only")
        if (branch.nonEmpty) throw new ConfigError(
          s"DML target '$name' reads a branch — stage branch changes with branch commits, then publish")
        if (prune.nonEmpty) throw new ConfigError(
          s"DML target '$name' carries input pruning predicates — DML must see the whole table")
        (name, Interpolate(loc, vars), fmt,
          opts.map { case (k, v) => k -> Interpolate(v, vars) })
      case _ => throw new ConfigError(
        s"DML target '$name' must be a versioned input (versioned: \"true\") — " +
          "row-level DML needs the table format's atomic commits")
    }
  }

  private def tableName(plan: LogicalPlan): String = plan match {
    case SubqueryAlias(_, child) => tableName(child)
    case r: UnresolvedRelation => r.multipartIdentifier.last
    case other => throw new ConfigError(
      s"DML target must be a plain table name, got: ${other.getClass.getSimpleName}")
  }

  /** Names a MERGE side can be referenced by: its alias plus (for plain
    * relations) the table name itself. */
  private def aliasNames(plan: LogicalPlan): Set[String] = plan match {
    // lowercased: Spark resolves identifiers case-insensitively by
    // default, and this validation must not reject `ON T.k = S.k`
    case SubqueryAlias(id, child) => aliasNames(child) + id.name.toLowerCase
    case r: UnresolvedRelation => Set(r.multipartIdentifier.last.toLowerCase)
    case _ => Set.empty
  }

  /** `t.k = s.k AND ...` → Seq(k, ...). Any non-equi or cross-named
    * term is rejected: the versioned merge is keyed row replacement.
    * r11 ADVICE hardening: a qualified side must resolve to the target
    * or source alias, and a conjunct whose BOTH sides resolve to the
    * same relation (`ON t.k = t.k`) is rejected — it only coincided
    * with the intended semantics because the merge is name-keyed.
    * Repeated key names deduplicate (harmless for a name-keyed merge). */
  private def equiKeys(cond: Expression, targetNames: Set[String],
                       sourceNames: Set[String]): Seq[String] = {
    def side(a: UnresolvedAttribute): Option[String] =
      if (a.nameParts.size < 2) None // unqualified: name-keyed, unambiguous
      else {
        val q = a.nameParts.init.last.toLowerCase
        if (targetNames.contains(q)) Some("target")
        else if (sourceNames.contains(q)) Some("source")
        else throw new ConfigError(
          s"MERGE ON references unknown qualifier '$q' — expected the " +
            s"target (${targetNames.toSeq.sorted.mkString("/")}) or the " +
            s"source (${sourceNames.toSeq.sorted.mkString("/")})")
      }
    def walk(c: Expression): Seq[String] = c match {
      case And(l, r) => walk(l) ++ walk(r)
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
        if a.nameParts.last == b.nameParts.last =>
        (side(a), side(b)) match {
          case (Some(x), Some(y)) if x == y => throw new ConfigError(
            s"MERGE ON conjunct '${c.sql}' compares the $x to itself — " +
              "each key must bind the target to the source (t.k = s.k)")
          case _ => Seq(a.nameParts.last)
        }
      case other => throw new ConfigError(
        s"MERGE ON must be a conjunction of same-named equality keys " +
          s"(t.k = s.k [AND ...]), got: ${other.sql}")
    }
    walk(cond).distinct
  }

  /** `t.cents` → `cents`: the versioned DML API evaluates expressions
    * over the table's own columns, where qualifiers don't resolve. */
  private def stripQualifiers(e: Expression): Expression = e.transform {
    case a: UnresolvedAttribute if a.nameParts.size > 1 =>
      UnresolvedAttribute(Seq(a.nameParts.last))
  }
}
