package graft.engine

import scala.util.Try
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.analysis._
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, Literal, PredicateHelper,
  SubqueryExpression}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** DML verb routing for `Engine.query` — reference parity with
  * Mallard's router, which hands `UPDATE` / `DELETE` / `INSERT`
  * statements verbatim to DuckDB (`flight_server.py:320-331`).
  *
  * Spark has no mutable temp views, so the verbs are re-expressed as
  * *functional* catalog rewrites: take the statement's pieces from the
  * plan Spark's parser built (target, SET/WHERE expressions, source
  * query), build the post-statement DataFrame from them, and swap it
  * into the `Catalog` (view-replacement). Readers see exactly what they
  * would see after an in-place mutation; the plan stays lazy, so
  * Catalyst optimizes through the rewrite (e.g. a later filter pushes
  * below the UPDATE's projection).
  *
  * Routing contract: `Engine.query` parses each statement once and
  * hands the plan here. This layer dispatches on the node Spark
  * returns — `UpdateTable`, `DeleteFromTable`, `InsertIntoStatement`
  * (also under a leading `WITH`), `MergeIntoTable`, `AddColumns`,
  * `DropColumns`, `RenameColumn`, `RenameTable` — and claims the
  * statement ONLY when its target is a single-part catalog table.
  * Anything else — `INSERT OVERWRITE`, qualified names, a target that
  * lives in Spark's own catalog — returns None and falls through to
  * `spark.sql`, so no statement that worked before this layer existed
  * can regress. Backticks, comments and CTE prefixes are the parser's
  * business, not ours.
  *
  * Five DuckDB-only forms that Spark's parser rejects keep a small
  * front, keyed on where the parser stopped (`ParseException` line and
  * position):
  *  - `COPY t TO '<path>' …` — matched whole by [[CopyRe]];
  *  - `INSERT … ON CONFLICT …` — the parser stops at that `ON`; the
  *    head re-parses as a plain INSERT, the tail is [[ConflictRe]] and
  *    its DO UPDATE list re-parses as `UPDATE t SET <list>`;
  *  - `WHEN MATCHED BY TARGET` — the parser stops at `BY`; rejected
  *    naming the construct (SQL:2023 allows BY TARGET only after NOT
  *    MATCHED, which Spark parses);
  *  - `ADD [COLUMN] IF NOT EXISTS` — the parser stops at `EXISTS`; the
  *    `IF NOT EXISTS` is stripped by [[AddIfNotExistsRe]] and the rest
  *    re-parsed;
  *  - MERGE `THEN INSERT VALUES (…)` without a column list — the parser
  *    stops at `VALUES`; the target's columns are spliced in before it
  *    and the statement re-parsed.
  *
  * Column references resolve the way Spark resolves any query: the
  * target frame is aliased by its alias (or its own name), so `t.c` is
  * the target's column at the top level and an outer reference inside a
  * correlated subquery, while a bare name there binds to the innermost
  * relation first. Only the source row of a MERGE (`s.c`) and the
  * incoming row of an upsert (`excluded.c`) are renamed, on the parsed
  * name parts.
  *
  * Statement-level SQL semantics are preserved deliberately:
  *  - all `SET` expressions evaluate against PRE-update rows (one
  *    simultaneous projection, not a `withColumn` chain);
  *  - a SET/INSERT column that does not exist in the target errors,
  *    and so does one assigned or listed twice (DuckDB raises a binder
  *    error; silently dropping an assignment while answering OK would
  *    be corruption — the parser accepts both);
  *  - `DELETE … WHERE c` removes rows where `c` IS TRUE — rows where
  *    `c` is NULL survive;
  *  - updated columns cast back to their declared type (a DuckDB
  *    UPDATE cannot change a column's type, so neither can ours);
  *  - `INSERT` aligns columns positionally (with an optional explicit
  *    column list), casts to the target schema, and APPENDS via
  *    `Catalog.put` — the reference's create-if-absent + INSERT
  *    semantics (`flight_server.py:388-400`);
  *  - UPDATE/DELETE read-modify-write runs under the catalog's
  *    mutator lock (`Catalog.replaceWith`), so a concurrent PUT can
  *    neither interleave nor be lost.
  */
private[graft] object SqlVerbs extends PredicateHelper {

  /** Execute the statement if this layer claims it. `parsed` is
    * Spark's parse of `sqlText`, or the parser's error. None → not
    * claimed, the caller falls through to `spark.sql`.
    */
  def execute(e: Engine, sqlText: String,
      parsed: Either[Throwable, LogicalPlan]): Option[DataFrame] = parsed match {
    case Right(plan)               => dispatch(e, sqlText, plan).map(_ => e.statusOk)
    case Left(err: ParseException) => front(e, sqlText, err)
    case Left(_)                   => None
  }

  private def dispatch(e: Engine, sql: String, plan: LogicalPlan): Option[Unit] = plan match {
    case UpdateTable(tgt, sets, cond) =>
      target(e, tgt).map { case (t, q) => update(e, sql, t, q, sets, cond) }
    case DeleteFromTable(tgt, cond) =>
      target(e, tgt).map { case (t, q) => delete(e, t, q, cond) }
    case Insert(ins, source) => insert(e, sql, ins, source, None)
    case m: MergeIntoTable =>
      target(e, m.targetTable).map { case (t, q) => merge(e, sql, t, q, m) }
    case AddColumns(tgt, cols) =>
      target(e, tgt).flatMap { case (t, _) => addColumns(e, t, cols, ifNotExists = false) }
    case DropColumns(tgt, cols, ifExists) =>
      for ((t, _) <- target(e, tgt); names <- simpleNames(cols)) yield dropColumns(e, t, names, ifExists)
    case RenameColumn(tgt, UnresolvedFieldName(Seq(from)), to) =>
      target(e, tgt).map { case (t, _) => renameColumn(e, t, from, to) }
    case RenameTable(tgt, Seq(to), _) =>
      target(e, tgt).map { case (t, _) => e.catalog.rename(t, to) }
    case _ => None
  }

  /** (catalog table, the name that qualifies its columns: its alias or
    * its own name) when `plan` names a single-part catalog table,
    * optionally aliased — the claim condition. Qualified names and
    * unmanaged tables → None.
    */
  private def target(e: Engine, plan: LogicalPlan): Option[(String, String)] = plan match {
    case SubqueryAlias(alias, child) => target(e, child).map { case (t, _) => (t, alias.name) }
    case UnresolvedRelation(Seq(t), _, _) if e.catalog.contains(t)   => Some((t, t))
    case UnresolvedTable(Seq(t), _, _) if e.catalog.contains(t)      => Some((t, t))
    case UnresolvedTableOrView(Seq(t), _, _) if e.catalog.contains(t) => Some((t, t))
    case _ => None
  }

  /** An INSERT and its source plan; a leading `WITH` stays attached to
    * the source, where its CTEs are in scope.
    */
  private object Insert {
    def unapply(plan: LogicalPlan): Option[(InsertIntoStatement, LogicalPlan)] = plan match {
      case i: InsertIntoStatement                          => Some((i, i.query))
      case w @ UnresolvedWith(i: InsertIntoStatement, _, _) => Some((i, w.copy(child = i.query)))
      case _                                               => None
    }
  }

  // ---- names and expressions from the parsed plan -----------------------

  /** The target column a SET or INSERT list entry names, unqualified
    * when `q` (the target's alias or name) qualifies it.
    */
  private def colName(q: String)(key: Expression): String = key match {
    case UnresolvedAttribute(Seq(a, c)) if a.equalsIgnoreCase(q) => c
    case UnresolvedAttribute(parts)                              => parts.mkString(".")
    case other                                                   => other.sql
  }

  /** `ex` as a Column, with `qual.c` renamed to the single-part `to(c)`
    * (`s.c` → `__src_c`, `excluded.c` → `__excluded_c`). The rewrite
    * works on the parsed name parts, so literals and comments are never
    * touched, and reaches into subqueries — except one that binds
    * `qual` itself (`FROM x AS s`), where the name is the subquery's own.
    */
  private def column(ex: Expression, qual: String, to: String => String): Column = {
    val attr: PartialFunction[Expression, Expression] = {
      case UnresolvedAttribute(Seq(q, c)) if q.equalsIgnoreCase(qual) => UnresolvedAttribute(Seq(to(c)))
    }
    def binds(p: LogicalPlan) = p.collectWithSubqueries {
      case SubqueryAlias(a, _) if a.name.equalsIgnoreCase(qual) => ()
      case UnresolvedRelation(parts, _, _) if parts.last.equalsIgnoreCase(qual) => ()
    }.nonEmpty
    GraftBridge.column(ex.transformUp(attr.orElse {
      case s: SubqueryExpression if !binds(s.plan) =>
        s.withNewPlan(s.plan.transformAllExpressionsWithSubqueries(attr))
    }))
  }

  private def simpleNames(fields: Seq[FieldName]): Option[Seq[String]] =
    Some(fields.collect { case UnresolvedFieldName(Seq(n)) => n }).filter(_.size == fields.size)

  private def fail(sqlText: String, what: String): Nothing =
    throw new IllegalArgumentException(s"Cannot parse $what: $sqlText")

  private def unknownColumn(table: String, colName: String, known: Seq[String]): Nothing =
    throw new IllegalArgumentException(
      s"Column '$colName' does not exist in table '$table'. Columns: ${known.mkString(", ")}")

  private def requireColumns(table: String, known: Seq[String], names: Seq[String]): Unit =
    names.find(n => !known.exists(_.equalsIgnoreCase(n))).foreach(unknownColumn(table, _, known))

  private def requireDistinct(names: Seq[String])(msg: String => String): Unit =
    names.groupBy(_.toLowerCase).collectFirst { case (_, vs) if vs.size > 1 => vs.head }
      .foreach(c => throw new IllegalArgumentException(msg(c)))

  /** SET list → (unqualified column, value). A column assigned twice
    * errors: DuckDB raises a binder error, and keeping the last would
    * drop an assignment while answering OK.
    */
  private def setList(sql: String, q: String, sets: Seq[Assignment]): Seq[(String, Expression)] = {
    val named = sets.map(a => colName(q)(a.key) -> a.value)
    requireDistinct(named.map(_._1))(c => s"Duplicate assignment to column '$c': $sql")
    named
  }

  // ---- UPDATE t SET a = e1, b = e2 [WHERE c] ---------------------------

  private def update(e: Engine, sql: String, table: String, q: String,
      sets: Seq[Assignment], cond: Option[Expression]): Unit = {
    val assigns = setList(sql, q, sets)
    val where = cond.map(GraftBridge.column)
    // read + swap under the catalog's mutator lock: a concurrent PUT
    // can neither interleave with the snapshot nor be lost
    e.catalog.replaceWith(table) { df =>
      val fields = df.schema.fields.toSeq
      requireColumns(table, fields.map(_.name), assigns.map(_._1))
      // one simultaneous projection: every SET expression sees the
      // pre-update row, matching statement-level UPDATE semantics
      df.as(q).select(fields.map { f =>
        assigns.collectFirst { case (c, v) if c.equalsIgnoreCase(f.name) =>
          val ex = GraftBridge.column(v)
          where.fold(ex)(w => when(w, ex).otherwise(col(f.name))).cast(f.dataType).as(f.name)
        }.getOrElse(col(f.name))
      }: _*)
    }
  }

  // ---- DELETE FROM t [WHERE c] -----------------------------------------

  private def delete(e: Engine, table: String, q: String, cond: Expression): Unit =
    e.catalog.replaceWith(table) { df =>
      if (cond == Literal.TrueLiteral) df.limit(0) // no WHERE
      // keep rows where the predicate is FALSE *or* NULL
      else df.as(q).filter(!coalesce(GraftBridge.column(cond), lit(false)))
    }

  // ---- INSERT INTO t [(cols)] SELECT …|VALUES … ------------------------
  //      (+ … ON CONFLICT (keys) DO NOTHING | DO UPDATE SET …)

  /** The raw `ON CONFLICT` pieces: the key list and the text after
    * `DO UPDATE` (None for DO NOTHING).
    */
  private case class Conflict(keys: String, update: Option[String])

  /** Claims ONLY catalog-resident targets. The reference hands INSERT to
    * DuckDB, which raises a catalog error for a missing table —
    * create-if-absent is its *PUT* semantic (`flight_server.py:388-400`),
    * not its SQL semantic. An unmanaged target falls through to
    * `spark.sql`, which raises the resolution error (or inserts into a
    * real Spark-catalog table, which is its business).
    */
  private def insert(e: Engine, sql: String, ins: InsertIntoStatement, source: LogicalPlan,
      conflict: Option[Conflict]): Option[Unit] =
    if (ins.partitionSpec.nonEmpty || ins.overwrite || ins.ifPartitionNotExists || ins.byName) None
    else target(e, ins.table).map { case (table, _) =>
      val cols = ins.userSpecifiedCols
      requireDistinct(cols)(c => s"INSERT lists column '$c' more than once: $sql")
      val src = GraftBridge.ofRows(e.spark, source)
      conflict match {
        case None    => e.catalog.put(table, aligned(table, e.catalog.get(table).schema, cols, src))
        case Some(c) => upsert(e, sql, table, cols, src, c)
      }
    }

  /** `src` positionally renamed onto `cols` (or every target column),
    * cast to the declared types; unlisted columns are NULL.
    */
  private def aligned(table: String, schema: StructType, cols: Seq[String], src: DataFrame): DataFrame = {
    val order = if (cols.isEmpty) schema.fieldNames.toSeq else cols
    requireColumns(table, schema.fieldNames.toSeq, order)
    require(src.columns.length == order.length,
      s"INSERT expects ${order.length} columns, query produced ${src.columns.length}")
    src.toDF(order: _*).select(schema.fields.toSeq.map { f =>
      if (order.exists(_.equalsIgnoreCase(f.name))) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Upsert — DuckDB's `INSERT … ON CONFLICT` (the reference routes any
    * DuckDB SQL, `flight_server.py:320-331`), rewritten functionally:
    * conflicting target rows get the DO UPDATE projection (SET
    * expressions see the EXISTING row unqualified or by the table's
    * name, and the incoming row as `excluded.<col>`, exactly DuckDB's
    * scoping; an optional WHERE
    * limits which conflicting rows update), non-conflicting source rows
    * append, everything else passes through — one catalog swap under
    * the mutator lock. Graft has no constraint registry, so the ON
    * CONFLICT column list IS the match key (DuckDB additionally
    * requires it to name a UNIQUE/PK constraint). Source rows that
    * collide on the key error for DO UPDATE (DuckDB: "can not update
    * the same row twice") and dedupe for DO NOTHING (DuckDB keeps the
    * first in insertion order; which row wins is engine-internal).
    */
  private def upsert(e: Engine, sql: String, table: String, cols: Seq[String],
      src: DataFrame, conflict: Conflict): Unit = {
    val parser = e.spark.sessionState.sqlParser
    val keys = conflict.keys.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      .map(parser.parseMultipartIdentifier(_).mkString("."))
    if (keys.isEmpty) fail(sql, "ON CONFLICT column list")
    val doUpdate = conflict.update.map(u =>
      Try(parser.parsePlan(s"UPDATE t$u")).toOption.collect { case p: UpdateTable => p }
        .getOrElse(fail(sql, "ON CONFLICT DO UPDATE clause")))
    e.catalog.replaceWith(table) { df =>
      val fields = df.schema.fields.toSeq
      def field(name: String) = fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(unknownColumn(table, name, fields.map(_.name)))
      val keyNames = keys.map(field(_).name)
      val srcAligned = aligned(table, df.schema, cols, src)
      // every conflict key must be among the inserted columns — an
      // unlisted key would make every source row "new" with a NULL key
      keyNames.find(k => cols.nonEmpty && !cols.exists(_.equalsIgnoreCase(k)))
        .foreach(k => throw new IllegalArgumentException(
          s"ON CONFLICT key '$k' is not among the inserted columns: $sql"))
      val targetKeys = df.select(keyNames.map(col): _*)
      doUpdate match {
        case None =>
          val fresh = srcAligned.dropDuplicates(keyNames).join(targetKeys, keyNames, "left_anti")
          df.unionByName(fresh)
        case Some(UpdateTable(_, sets, cond)) =>
          val assigns = setList(sql, table, sets)
          requireColumns(table, fields.map(_.name), assigns.map(_._1))
          // two source rows hitting one target row is a DuckDB error,
          // not a nondeterministic last-writer-wins
          if (srcAligned.groupBy(keyNames.map(col): _*).count()
              .filter(col("count") > 1).limit(1).count() > 0)
            throw new IllegalArgumentException(
              s"ON CONFLICT DO UPDATE source contains duplicate conflict-key rows " +
                s"(DuckDB: can not update the same row twice): $sql")
          // the incoming row is exposed as __excluded_<col>
          def ex(x: Expression) = column(x, "excluded", c => s"__excluded_${field(c).name}")
          val exc = srcAligned
            .select(fields.map(f => col(f.name).as(s"__excluded_${f.name}")): _*)
            .withColumn("__graft_matched", lit(true))
          val on = keyNames.map(k => col(k) === col(s"__excluded_$k")).reduce(_ && _)
          val matched0 = coalesce(col("__graft_matched"), lit(false))
          val matched = cond.fold(matched0)(w => matched0 && coalesce(ex(w), lit(false)))
          val proj = fields.map { f =>
            assigns.collectFirst { case (c, v) if c.equalsIgnoreCase(f.name) =>
              when(matched, ex(v)).otherwise(col(f.name)).cast(f.dataType).as(f.name)
            }.getOrElse(col(f.name))
          }
          val updated = df.as(table).join(exc, on, "left").select(proj: _*)
          updated.unionByName(srcAligned.join(targetKeys, keyNames, "left_anti"))
      }
    }
  }

  // ---- MERGE INTO t USING src ON cond WHEN [NOT] MATCHED … --------------

  /** `MERGE INTO` — the general WHEN MATCHED / WHEN NOT MATCHED form
    * the `ON CONFLICT` upsert cannot express (conditional updates,
    * matched DELETE, a source relation with its own column names).
    * Rewritten functionally like every other verb: one catalog swap
    * under the mutator lock whose DataFrame encodes the statement's
    * semantics.
    *
    * ANSI semantics preserved deliberately:
    *  - clauses apply FIRST-MATCH-WINS in statement order, per row;
    *  - a source that matches one target row more than once errors
    *    (the standard's cardinality violation; DuckDB: "can not
    *    update the same row twice") instead of non-deterministic
    *    last-writer-wins;
    *  - UPDATE SET expressions see the PRE-merge target row
    *    (unqualified, or qualified by the target's alias, else its
    *    name) and the source row (source-qualified) simultaneously;
    *  - WHEN NOT MATCHED INSERT aligns its column list (every target
    *    column when it has none) and casts to declared types; unlisted
    *    columns become NULL.
    *
    * Claimed subset: catalog-table target, a source that is a table or
    * an aliased subquery, and an ON condition that is a conjunction of
    * `target.col = source.col` equalities — the match-key form every
    * production MERGE uses, and the one a functional rewrite can verify
    * the cardinality rule against. A non-equi ON errors loudly (a
    * silent fall-through to spark.sql would produce a confusing error
    * for a statement this layer DID recognize as MERGE). `WHEN [NOT]
    * MATCHED BY SOURCE` and the `*` actions error the same way.
    *
    * At 100 TB the shape is one shuffled equi-join on the merge key
    * plus one anti-join — exactly the MERGE plan Delta/Iceberg
    * execute — with the first-match-wins projection a per-row
    * CASE chain, never a second pass.
    */
  private def merge(e: Engine, sql: String, table: String, tq: String,
      m: MergeIntoTable): Unit = {
    if (m.notMatchedBySourceActions.nonEmpty)
      throw new IllegalArgumentException(
        "MERGE: WHEN [NOT] MATCHED BY SOURCE is not supported " +
          s"(matched/not-matched-by-target clauses only): $sql")
    val sAlias = m.sourceTable match {
      case SubqueryAlias(alias, _)         => alias.name
      case UnresolvedRelation(parts, _, _) => parts.last
      case _                               => fail(sql, "source alias (required)")
    }
    val src = GraftBridge.ofRows(e.spark, m.sourceTable)
    val sCols = src.columns.toSeq
    e.catalog.replaceWith(table) { df =>
      val fields = df.schema.fields.toSeq
      val known = fields.map(_.name)
      def tField(n: String) = fields.find(_.name.equalsIgnoreCase(n))
        .getOrElse(unknownColumn(table, n, known))
      def sCol(n: String) = sCols.find(_.equalsIgnoreCase(n))
        .getOrElse(throw new IllegalArgumentException(s"MERGE source has no column '$n': $sql"))
      // the source row is exposed as __src_<col>; the target, aliased
      // `tq`, resolves its own names
      def named(x: Expression) = column(x, sAlias, c => s"__src_${sCol(c)}")
      def side(x: Expression): Option[Either[String, String]] = x match {
        case UnresolvedAttribute(Seq(q, c)) if q.equalsIgnoreCase(tq)           => Some(Left(tField(c).name))
        case UnresolvedAttribute(Seq(q, c)) if q.equalsIgnoreCase(sAlias)       => Some(Right(sCol(c)))
        case UnresolvedAttribute(Seq(c)) if known.exists(_.equalsIgnoreCase(c)) => Some(Left(tField(c).name))
        case UnresolvedAttribute(Seq(c)) if sCols.exists(_.equalsIgnoreCase(c)) => Some(Right(sCol(c)))
        case _ => None
      }
      // (target column, source column) per ON conjunct
      val keys: Seq[(String, String)] = splitConjunctivePredicates(m.mergeCondition).map {
        case EqualTo(a, b) => (side(a), side(b)) match {
          case (Some(Left(t)), Some(Right(s))) => (t, s)
          case (Some(Right(s)), Some(Left(t))) => (t, s)
          case _ => fail(sql, "target.col = source.col ON conjunct")
        }
        case _ => fail(sql, "equi-join ON condition")
      }
      // matched actions: (predicate, Some(SET list) | None for DELETE)
      val acts = m.matchedActions.map {
        case UpdateAction(p, sets, _) =>
          val assigns = setList(sql, tq, sets)
          requireColumns(table, known, assigns.map(_._1))
          (p, Some(assigns))
        case DeleteAction(p) => (p, None)
        case _               => fail(sql, "WHEN MATCHED action")
      }
      val inserts = m.notMatchedActions.map {
        case InsertAction(p, sets) =>
          val cols = sets.map(a => colName(tq)(a.key) -> a.value)
          requireDistinct(cols.map(_._1))(c => s"INSERT lists column '$c' more than once: $sql")
          requireColumns(table, known, cols.map(_._1))
          (p, cols)
        case _ => fail(sql, "WHEN NOT MATCHED action")
      }
      def pred(p: Option[Expression]): Column =
        p.map(x => coalesce(named(x), lit(false))).getOrElse(lit(true))
      // ANSI cardinality rule: a TARGET row touched by two source
      // rows errors. Checked on exactly that set — source rows that
      // match at least one target row (the semi join) — so duplicate
      // NOT-MATCHED keys insert freely and NULL keys (which an
      // equi-join can never match) pass through, both per the
      // standard. SKIPPED for insert-only statements (no WHEN MATCHED
      // clause): the violation exists only when a target row would be
      // updated or deleted more than once — an insert-only MERGE
      // touches no matched row, and ANSI/DuckDB raise nothing there.
      if (acts.nonEmpty) {
        val tgtKeys = df.select(keys.map { case (t, s) => col(t).as(s) }: _*).dropDuplicates()
        val matchingSrc = src.select(keys.map(k => col(k._2)): _*)
          .join(tgtKeys, keys.map(_._2), "left_semi")
        if (matchingSrc.groupBy(keys.map(k => col(k._2)): _*).count()
            .filter(col("count") > 1).limit(1).count() > 0)
          throw new IllegalArgumentException(
            s"MERGE source matches a target row more than once " +
              s"(DuckDB: can not update the same row twice): $sql")
      }
      val srcR = src
        .select(sCols.map(c => col(c).as(s"__src_$c")): _*)
        .withColumn("__graft_matched", lit(true))
      val joinCond = keys.map { case (t, s) => col(t) === col(s"__src_$s") }.reduce(_ && _)
      val matchedC = coalesce(col("__graft_matched"), lit(false))
      // insert-only statements NEVER build the matched-side join:
      // beyond being wasted analysis, the left join would FAN OUT a
      // target row matched by several source rows — a state the
      // (skipped-here) cardinality check otherwise forbids — and
      // duplicate it in the output. Matched rows are kept as-is.
      val updated = if (acts.isEmpty) df else {
        val joined = df.as(tq).join(srcR, joinCond, "left")
        // matched clauses: effective condition = matched AND pred AND
        // no earlier matched clause fired (first-match-wins)
        var priorM: Column = lit(false)
        val effective = acts.map { case (p, set) =>
          val eff = matchedC && pred(p) && !priorM
          priorM = priorM || (matchedC && pred(p))
          (set, eff)
        }
        val delCond = effective.collect { case (None, eff) => eff }
          .reduceOption(_ || _).getOrElse(lit(false))
        val proj = fields.map { f =>
          effective.collect { case (Some(set), eff) if set.exists(_._1.equalsIgnoreCase(f.name)) =>
            (eff, set.find(_._1.equalsIgnoreCase(f.name)).get._2)
          }.foldRight(col(f.name)) { case ((eff, v), acc) =>
            when(eff, named(v).cast(f.dataType)).otherwise(acc)
          }.as(f.name)
        }
        joined.filter(!delCond).select(proj: _*)
      }
      // NOT MATCHED inserts: source rows with no target match,
      // first-match-wins across the insert clauses
      val srcUn = srcR.join(df.select(keys.map(k => col(k._1)): _*).dropDuplicates(),
        joinCond, "left_anti")
      var priorI: Column = lit(false)
      val inserted = inserts.map { case (p, cols) =>
        val eff = pred(p) && !priorI
        priorI = priorI || pred(p)
        srcUn.filter(eff).select(fields.map { f =>
          cols.find(_._1.equalsIgnoreCase(f.name))
            .map(v => named(v._2).cast(f.dataType).as(f.name))
            .getOrElse(lit(null).cast(f.dataType).as(f.name))
        }: _*)
      }
      inserted.foldLeft(updated)(_ unionByName _)
    }
  }

  // ---- ALTER TABLE t ADD|DROP|RENAME COLUMN … / RENAME TO … -------------
  //
  // Schema evolution as a projection rewrite — the Mallard router
  // accepts ALTER by prefix and DuckDB executes it
  // (`flight_server.py:354-355`, `:324-331`). Spark cannot ALTER a temp
  // view, so for catalog tables the statement becomes a catalog swap
  // under the mutator lock: ADD → NULL-filled projection (DuckDB's
  // added column is NULL); DROP → project all but the column; RENAME
  // COLUMN → one alias; RENAME TO → registry move (`Catalog.rename`).
  // Unknown/duplicate columns error (DuckDB binder parity); nested,
  // positioned or defaulted columns fall through to `spark.sql`.

  private def addColumns(e: Engine, table: String, cols: Seq[QualifiedColType],
      ifNotExists: Boolean): Option[Unit] =
    if (cols.exists(c => c.path.nonEmpty || c.position.nonEmpty || c.default.nonEmpty)) None
    else Some(e.catalog.replaceWith(table) { df =>
      cols.foldLeft(df) { (d, c) =>
        if (!d.columns.exists(_.equalsIgnoreCase(c.colName)))
          d.withColumn(c.colName, lit(null).cast(c.dataType))
        else if (ifNotExists) d // IF NOT EXISTS: no-op, DuckDB parity
        else throw new IllegalArgumentException(
          s"Column '${c.colName}' already exists in table '$table'")
      }
    })

  private def dropColumns(e: Engine, table: String, names: Seq[String], ifExists: Boolean): Unit =
    e.catalog.replaceWith(table) { df =>
      if (!ifExists) requireColumns(table, df.columns.toSeq, names) // IF EXISTS: missing is a no-op
      df.select(df.columns.toSeq.filterNot(c => names.exists(_.equalsIgnoreCase(c))).map(col): _*)
    }

  private def renameColumn(e: Engine, table: String, from: String, to: String): Unit =
    e.catalog.replaceWith(table) { df =>
      requireColumns(table, df.columns.toSeq, Seq(from))
      if (df.columns.exists(_.equalsIgnoreCase(to)))
        throw new IllegalArgumentException(s"Column '$to' already exists in table '$table'")
      df.withColumnRenamed(from, to)
    }

  // ---- DuckDB-only forms Spark's parser rejects -------------------------

  /** `COPY <table> TO '<path>' [(FORMAT …[, HEADER …])]` — the
    * reference's export path (`demo.py:233`).
    */
  private val CopyRe =
    "(?is)^COPY\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+TO\\s+'([^']+)'\\s*(?:\\((.*)\\))?\\s*;?\\s*$".r

  /** The tail of `INSERT … ON CONFLICT (keys) DO NOTHING | DO UPDATE
    * SET …`, from the `ON` where Spark's parser stops; group 2 is the
    * text after `DO UPDATE` (null for DO NOTHING).
    */
  private val ConflictRe =
    "(?is)ON\\s+CONFLICT\\s*\\(([^)]*)\\)\\s*DO\\s+(?:NOTHING\\s*;?\\s*|UPDATE(\\s.*))".r

  /** The text of `ALTER TABLE t ADD [COLUMN] IF NOT EXISTS …` before the
    * `EXISTS` where Spark's parser stops; group 1 drops the `IF NOT`.
    */
  private val AddIfNotExistsRe = "(?is)(.*\\sADD(?:\\s+COLUMNS?)?\\s+)IF\\s+NOT\\s+".r

  private def front(e: Engine, sql: String, err: ParseException): Option[DataFrame] = sql.trim match {
    case CopyRe(table, path, opts) => copy(e, table, path, opts)
    case _ =>
      def parse(s: String) = Try(e.spark.sessionState.sqlParser.parsePlan(s)).toEither
      def word(s: String) = s.takeWhile(c => c.isLetterOrDigit || c == '_').toUpperCase
      def endsWithWord(s: String, w: String) = word(s.stripTrailing.reverse) == w.reverse
      stopOffset(sql, err).flatMap { stop =>
        // the parser stops at ON CONFLICT's `ON` — or at `CONFLICT` when
        // it took that `ON` for an alias (`SELECT 1, 'h' ON CONFLICT …`)
        val at = if (word(sql.substring(stop)) == "CONFLICT" && endsWithWord(sql.take(stop), "ON"))
          sql.take(stop).stripTrailing.length - 2 else stop
        val (head, tail) = sql.splitAt(at)
        (head, tail) match {
          case (_, ConflictRe(keys, update)) =>
            parse(head).toOption.flatMap {
              case Insert(ins, source) => insert(e, sql, ins, source, Some(Conflict(keys, Option(update))))
              case _                   => None
            }
          case (AddIfNotExistsRe(rest), _) if word(tail) == "EXISTS" =>
            parse(rest + tail.drop("EXISTS".length)).toOption.flatMap {
              case AddColumns(tgt, cols) =>
                target(e, tgt).flatMap { case (t, _) => addColumns(e, t, cols, ifNotExists = true) }
              case _ => None
            }
          case _ if word(tail) == "BY" && word(tail.drop(2).trim) == "TARGET" &&
              endsWithWord(head, "MATCHED") =>
            throw new IllegalArgumentException(
              "MERGE: BY TARGET is only valid after WHEN NOT MATCHED " +
                s"(SQL:2023) — 'WHEN MATCHED BY TARGET' is not a clause: $sql")
          case _ if word(tail) == "VALUES" && endsWithWord(head, "INSERT") =>
            // `head` + `*` is the MERGE up to this clause, which names the target
            parse(head + "*").toOption.collect { case m: MergeIntoTable => m }
              .flatMap(m => target(e, m.targetTable)).flatMap { case (t, _) =>
                val cols = e.catalog.get(t).columns.map(c => s"`${c.replace("`", "``")}`")
                val full = head + cols.mkString("(", ", ", ") ") + tail
                execute(e, full, parse(full))
              }.map(_ => ())
          case _ => None
        }
      }.map(_ => e.statusOk)
  }

  /** Char offset of the token where Spark's parser stopped: it reports
    * a 1-based line and a column counted in code points.
    */
  private def stopOffset(sql: String, err: ParseException): Option[Int] =
    for (line <- err.line; pos <- err.startPosition;
         lineStart = (1 until line).foldLeft(0)((i, _) => sql.indexOf('\n', i) + 1);
         at <- Try(sql.offsetByCodePoints(lineStart, pos)).toOption) yield at

  /** Claimed only for catalog tables with a format this engine can
    * write; anything else (COPY FROM, SELECT sources, partition
    * options) falls through and raises Spark's parse error. Like
    * DuckDB, the result is a one-row `Count` of rows written.
    */
  private def copy(e: Engine, table: String, path: String, optsRaw: String): Option[DataFrame] =
    if (!e.catalog.contains(table)) None
    else {
      // DuckDB option list: comma-separated KEY [value] pairs. DuckDB
      // infers format from the file extension when FORMAT is absent;
      // restrict to an explicit or unambiguous extension-derived one.
      val opts = Option(optsRaw).getOrElse("").split(",").iterator
        .map(_.trim).filter(_.nonEmpty)
        .map { o =>
          val kv = o.split("\\s+", 2)
          kv(0).toUpperCase -> (if (kv.length > 1) kv(1).trim else "")
        }.toMap
      val fmt = opts.get("FORMAT").map(_.toUpperCase).orElse {
        path.toLowerCase.reverse.takeWhile(_ != '.').reverse match {
          case "parquet" => Some("PARQUET")
          case "csv"     => Some("CSV")
          case "json" | "ndjson" | "jsonl" => Some("JSON")
          case _         => None
        }
      }
      val unknownOpts = opts.keySet -- Set("FORMAT", "HEADER")
      fmt match {
        case Some(f @ ("PARQUET" | "CSV" | "JSON")) if unknownOpts.isEmpty =>
          val df = e.get(table)
          val w = df.write.mode("overwrite")
          f match {
            case "PARQUET" => w.parquet(path)
            case "JSON"    => w.json(path) // NDJSON, same as DuckDB's default
            case "CSV" =>
              // DuckDB writes a header unless HEADER false
              val header =
                !opts.get("HEADER").exists(v => v.equalsIgnoreCase("false") || v == "0")
              w.option("header", header.toString).csv(path)
          }
          Some(e.spark.range(1).select(lit(df.count()).as("Count")))
        case _ => None // unsupported format/options → spark.sql error
      }
    }
}
