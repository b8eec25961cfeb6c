package graft.lang

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.catalog.{Ddl, GraphCatalog, Types}
import graft.store.GraphStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, BoundReference, EqualNullSafe,
  Expression, InterpretedPredicate, InterpretedProjection, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{Bridge, DriverParquet}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

final case class ExecError(msg: String) extends RuntimeException(msg)

/** Statement interpreter: grapho scripts → catalog mutations + Catalyst
  * plans over DataFrame-backed node/edge sets (reference:
  * /root/reference/server/server.go:219 executeStatement + commitlog.go
  * replay-on-boot).
  *
  * Differences from the reference, deliberate:
  *  - values are coerced to the catalog's types at insert (the reference
  *    stores number literals as raw strings, server.go:570);
  *  - UPDATE/DELETE/MATCH build each WHERE and SET once as a Catalyst
  *    expression over a field reference, each literal typed as its field
  *    (a null too), so one builder serves every table size;
  *  - a label keeps its rows on the driver, as Catalyst rows, while
  *    every such label's rows fit one byte budget together
  *    ([[Interpreter.driverBudget]], 2 MiB of [[Interpreter.rowBytes]]
  *    estimates, placed where measured statement latency favours
  *    Spark). There the references bind to ordinals and Catalyst's
  *    interpreted evaluators run the statement over the rows, so an
  *    UPDATE, a DELETE or an INSERT EDGE endpoint plans no query, runs
  *    no job and compiles no code. A single-element MATCH filters and
  *    projects on the driver too, and returns one LocalRelation of the
  *    result, whose collect is its one query. Rows are never changed in
  *    place, so a frame once returned is a snapshot. They serve with the
  *    catalog's schema, every property nullable: an UPDATE may set null
  *    where the catalog says NOT NULL;
  *  - a label whose rows would push the total past the budget moves
  *    once, for good, to a Spark table, and the same expressions run
  *    there as `Column`s. INSERTs buffer driver-side
  *    and merge in one batch per label. A batch is one slice, and the merge coalesces back to
  *    the width the label already has: 1 for a table built by
  *    statements, the read's split count for one loaded from a
  *    snapshot. Statements never widen a label. A mutation checkpoints,
  *    so the plan does not grow with script length;
  *  - an INSERT EDGE endpoint on a Spark table resolves with an ordered
  *    take of one row (`TakeOrderedAndProject`): one job, where a `min`
  *    aggregate runs two under adaptive execution;
  *  - `compact` writes a driver-resident label as one parquet file and
  *    `bootFrom` reads a snapshot label whose files fit the budget left
  *    back onto the driver, both on the driver with Spark's own parquet
  *    row support and no job ([[org.apache.spark.sql.graftbridge.DriverParquet]]);
  *    the read stops one row past what the budget holds. A Spark-resident
  *    label is written and read by Spark. So a store whose labels all
  *    fit the budget compacts, boots and replays its suffix log with no
  *    job.
  *
  * Statement WAL semantics: `replay(script)` reconstructs state by
  * re-executing the ordered log, exactly like the reference server's
  * boot path.
  */
final class Interpreter private[graft] (spark: SparkSession, driverBytes: Long) {

  /** An interpreter whose labels share [[Interpreter.driverBudget]]. */
  def this(spark: SparkSession) = this(spark, Interpreter.driverBudget)

  private var cat: GraphCatalog = GraphCatalog.empty
  def catalog: GraphCatalog = cat

  /** A field reference: by name on the Spark path, bound to the field's
    * ordinal on the driver. A statement's condition is built once over it.
    */
  private type Ref = String => Expression
  private val named: Ref = UnresolvedAttribute.quoted

  /** One label's rows: on the driver while every label's driver rows
    * fit `driverBytes`, else a Spark table. A label that would push the
    * total past the budget moves to Spark once and stays there.
    */
  private final class LabelState(var schema: StructType) {
    /** Driver-resident rows, or `None` once the label lives in Spark.
      * Never changed in place, so a frame served over them is a snapshot.
      */
    private var rows: Option[Vector[InternalRow]] = Some(Vector.empty)
    /** [[Interpreter.rowBytes]] summed over `rows`; 0 in Spark. */
    var bytes = 0L
    /** The LocalRelation over `rows`, rebuilt after they change. */
    private var served: Option[DataFrame] = None
    /** The Spark table, once `rows` is `None`. */
    private var df: DataFrame = _
    /** Partitions of `df`: 1 until a snapshot read sets it. Every
      * `mutate` is narrow, so it keeps the width.
      */
    private var width = 1
    val pending = mutable.ArrayBuffer.empty[InternalRow]

    /** Bytes left for this label's rows: the budget less every other
      * label's.
      */
    private def room: Long = driverBytes - residentBytes + bytes

    /** The schema driver rows serve with: the catalog's, with every
      * property nullable, since an UPDATE may set null where the catalog
      * says NOT NULL.
      */
    private def rowSchema: StructType = StructType(schema.fields.map(f =>
      if (Interpreter.keys(f.name)) f else f.copy(nullable = true)))

    private def bound(name: String): Expression = {
      val i = schema.fieldIndex(name)
      BoundReference(i, schema(i).dataType, nullable = true)
    }

    /** Keep `rs`, of `b` estimated bytes, on the driver if they fit
      * `room`; else move them to a one-slice Spark table for good.
      */
    private def hold(rs: Vector[InternalRow], b: Long): Unit = {
      if (b <= room) { rows = Some(rs); bytes = b }
      else {
        df = Bridge.rddFrame(spark, spark.sparkContext.parallelize(rs, 1), rowSchema)
        rows = None; bytes = 0
      }
      served = None
    }

    private def keep(rs: Vector[InternalRow]): Unit =
      hold(rs, rs.iterator.map(Interpreter.rowBytes(_, schema)).sum)

    /** The driver rows with every buffered INSERT appended (which may
      * move them to Spark), or `None` once the label lives in Spark.
      */
    private def local(): Option[Vector[InternalRow]] = {
      for (rs <- rows if pending.nonEmpty) {
        val b = pending.iterator.map(Interpreter.rowBytes(_, schema)).sum
        val all = rs ++ pending
        pending.clear()
        hold(all, bytes + b)
      }
      rows
    }

    /** Point a Spark-resident label at its snapshot table, keeping the
      * read's width. A driver-resident label's rows are its snapshot.
      */
    def repoint(path: java.nio.file.Path): Unit = if (rows.isEmpty) {
      val read = spark.read.schema(schema).parquet(path.toString)
      df = read
      width = math.max(1, read.rdd.getNumPartitions)
    }

    /** Boot from a snapshot table onto the driver, when its files are no
      * larger than `room` and the rows it reads fit it; else read it from
      * Spark. The driver reads the files itself, with no job, and stops
      * one row past the most all-null rows `room` holds, so a label of
      * small rows that does not fit is not read in whole.
      */
    def boot(path: java.nio.file.Path): Unit = {
      val files = java.nio.file.Files.walk(path)
      val onDisk = try files.iterator.asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum finally files.close()
      if (onDisk <= room) {
        val most = room / Interpreter.rowBytes(Row.fromSeq(schema.map(_ => null)))
        keep(DriverParquet.read(spark, schema, path, most + 1))
      } else rows = None
      repoint(path)
    }

    /** Write this label's snapshot table to `path`: driver rows as one
      * file, written on the driver with no job; a Spark table with
      * Spark's writer.
      */
    def snapshot(path: java.nio.file.Path): Unit = local() match {
      case Some(rs) => DriverParquet.write(spark, rowSchema, rs, path)
      case None => materialize().write.mode("overwrite").parquet(path.toString)
    }

    def materialize(): DataFrame = local() match {
      case Some(rs) =>
        if (served.isEmpty) served = Some(Bridge.localFrame(spark, rowSchema, rs))
        served.get
      case None =>
        if (pending.nonEmpty) {
          val batch = Bridge.rddFrame(spark,
            spark.sparkContext.parallelize(pending.toSeq, 1), schema)
          df = df.unionByName(batch).coalesce(width)
          pending.clear()
        }
        df
    }

    /** UPDATE: each of `sets` takes its value where `cond` holds. A Spark
      * table checkpoints, so the plan does not grow with script length.
      */
    def update(cond: Ref => Expression, sets: Map[String, Expression]): Unit =
      local() match {
        case Some(rs) =>
          val c = cond(bound)
          val next = new InterpretedProjection(schema.fieldNames.toSeq.map(n =>
            sets.get(n).fold(bound(n))(GraphStore.updated(c, _, bound(n)))))
          keep(rs.map(next))
        case None =>
          df = GraphStore.updateWhere(materialize(), Bridge.column(cond(named)),
            sets.map { case (n, v) => n -> Bridge.column(v) }).localCheckpoint()
      }

    /** DELETE: drop the rows where `cond` holds. */
    def delete(cond: Ref => Expression): Unit = local() match {
      case Some(rs) =>
        val kept = InterpretedPredicate(GraphStore.kept(cond(bound)))
        keep(rs.filter(kept.eval))
      case None =>
        df = GraphStore.deleteWhere(materialize(), Bridge.column(cond(named)))
          .localCheckpoint()
    }

    /** The rows where `cond` holds, projected on `ret` (every field when
      * empty). On the driver that is one LocalRelation of the matching
      * rows; a `ret` naming no field goes to Spark's `select`, which
      * resolves or rejects it.
      */
    def select(cond: Ref => Expression, ret: Seq[String]): DataFrame = local() match {
      case Some(rs) if ret.forall(schema.fieldNames.contains) =>
        val hit = InterpretedPredicate(cond(bound))
        val out = rs.filter(hit.eval)
        if (ret.isEmpty) Bridge.localFrame(spark, rowSchema, out)
        else Bridge.localFrame(spark, StructType(ret.map(rowSchema(_))),
          out.map(new InterpretedProjection(ret.map(bound))))
      case _ =>
        val hit = materialize().filter(Bridge.column(cond(named)))
        if (ret.nonEmpty) hit.select(ret.map(col): _*) else hit
    }

    /** The smallest `_id` where `cond` holds. On Spark, an ordered take of
      * one row runs one job; a `min` aggregate runs two under AQE.
      */
    def firstId(cond: Ref => Expression): Option[Long] = local() match {
      case Some(rs) =>
        val hit = InterpretedPredicate(cond(bound))
        rs.iterator.filter(hit.eval).map(_.getLong(0)).minOption
      case None =>
        materialize().filter(Bridge.column(cond(named))).select(col("_id"))
          .orderBy(col("_id")).limit(1).collect().headOption.map(_.getLong(0))
    }

    /** A schema migration: replace state with a transformed DF whose rows
      * have schema `next`. Driver rows collect it back (no job: Catalyst
      * folds it into its LocalRelation); a Spark table checkpoints it.
      * The schema changes only once that succeeds.
      */
    def mutate(f: DataFrame => DataFrame, next: StructType): Unit = {
      val out = f(materialize())
      if (rows.isDefined) {
        val rs = Interpreter.collectRows(out)
        schema = next
        keep(rs)
      } else {
        df = out.localCheckpoint()
        schema = next
      }
    }
  }

  private val nodeState = mutable.Map.empty[String, LabelState]
  private val edgeState = mutable.Map.empty[String, LabelState]
  /** Estimated bytes of every driver-resident label's rows. */
  private def residentBytes: Long =
    (nodeState.valuesIterator ++ edgeState.valuesIterator).map(_.bytes).sum
  private var nextId = 1L

  // ------------------------------------------------------------ schema

  private def nodeSchema(label: String): StructType = {
    val nt = cat.nodes(label)
    StructType(StructField("_id", LongType, nullable = false) +:
      Types.toSchema(nt.fields).fields.toSeq)
  }

  private def edgeSchema(label: String): StructType = {
    val et = cat.edges(label)
    StructType(
      StructField("_id", LongType, nullable = false) +:
      StructField("_src", LongType, nullable = false) +:
      StructField("_dst", LongType, nullable = false) +:
      Types.toSchema(et.props).fields.toSeq)
  }

  // ------------------------------------------------------------ values

  /** Literal → typed value per the catalog field type. */
  private def coerce(lit: Ast.Literal, tpe: Ast.TypeSpec): Any = lit.kind match {
    case Ast.LitKind.Null => null
    case Ast.LitKind.Bool => Types.toSpark(tpe) match {
      case BooleanType => lit.text == "true"
      case _ => throw ExecError(s"boolean literal for non-boolean field type")
    }
    case Ast.LitKind.Num => Types.toSpark(tpe) match {
      // parse int literals as longs directly: no silent truncation of
      // fractions, no precision loss above 2^53 from a double round-trip
      case LongType =>
        try lit.text.toLong catch {
          case _: NumberFormatException =>
            throw ExecError(s"int field requires an integer literal, got '${lit.text}'")
        }
      case DoubleType => lit.text.toDouble
      case _ => throw ExecError(s"number literal for non-numeric field type")
    }
    case Ast.LitKind.Str => Types.toSpark(tpe) match {
      case StringType => lit.text
      case DateType => java.sql.Date.valueOf(lit.text)
      case TimestampType => java.sql.Timestamp.valueOf(lit.text.replace("T", " "))
      case BinaryType => lit.text.getBytes("UTF-8")
      case _ => throw ExecError(s"string literal for incompatible field type")
    }
  }

  private def fieldSpec(label: String, name: String, isNode: Boolean) = {
    val spec =
      if (isNode) cat.nodes(label).field(name)
      else cat.edges(label).prop(name)
    spec.getOrElse(throw ExecError(s"unknown field '$name' on $label"))
  }

  private def fieldType(label: String, name: String, isNode: Boolean): Ast.TypeSpec =
    fieldSpec(label, name, isNode).tpe

  /** CHECK literal typing — the ONE rule shared with the batch finder
    * (Constraints.complementColumn): numeric literals type LEXICALLY
    * (double iff the text contains '.', else long), so `CHECK (qty <
    * 4.5)` on an int field compares as double at insert time exactly
    * as it does in the violation scan. Non-numeric literals coerce to
    * the referenced field's catalog type (dates/timestamps parse).
    */
  private def checkLiteral(c: Ast.CheckCmp, label: String, isNode: Boolean): Any =
    c.value.kind match {
      case Ast.LitKind.Num =>
        if (c.value.text.contains('.')) c.value.text.toDouble
        else c.value.text.toLong
      case _ => coerce(c.value, fieldType(label, c.field, isNode))
    }

  /** Insert-time CHECK enforcement (SQL semantics: a NULL atom result
    * PASSES its disjunct only via the 3VL tables — a row is rejected
    * iff the whole DNF is definite FALSE, i.e. EVERY disjunct contains
    * a definitely-FALSE atom; NULL anywhere can only save a row, never
    * doom it — exactly matching Constraints.checkViolations). Field
    * types are pre-validated at DDL time (Ddl.validateChecks), so the
    * comparisons are Long/Double/String/Boolean/Date/Timestamp.
    */
  private def enforceChecks(label: String, fields: Seq[graft.catalog.FieldSpec],
      byField: Map[String, Any], isNode: Boolean): Unit = {
    // 3VL atom value: None = NULL (null field, null literal, or null
    // sibling), Some(b) = definite truth value
    def atom(f: graft.catalog.FieldSpec, c: Ast.CheckCmp): Option[Boolean] = {
      val v = byField.getOrElse(c.field,
        throw ExecError(s"CHECK on '${f.name}' references unknown field '${c.field}'"))
      val w = c.rhsField match {
        case Some(r) => byField.getOrElse(r,
          throw ExecError(s"CHECK on '${f.name}' references unknown field '$r'"))
        case None =>
          if (c.value.kind == Ast.LitKind.Null) null
          else checkLiteral(c, label, isNode)
      }
      if (v == null || w == null) None
      else {
        val ord = (v, w) match {
          case (a: Long, b: Long) => java.lang.Long.compare(a, b)
          case (a: java.lang.Number, b: java.lang.Number) =>
            java.lang.Double.compare(a.doubleValue, b.doubleValue)
          case (a: String, b: String) => a.compareTo(b)
          case (a: Boolean, b: Boolean) => java.lang.Boolean.compare(a, b)
          case (a: java.sql.Date, b: java.sql.Date) => a.compareTo(b)
          case (a: java.sql.Timestamp, b: java.sql.Timestamp) => a.compareTo(b)
          case _ => throw ExecError(
            s"CHECK on '${f.name}': incompatible comparison for '${c.field}'")
        }
        Some(c.op match {
          case Ast.CmpOp.Eq => ord == 0
          case Ast.CmpOp.Ne => ord != 0
          case Ast.CmpOp.Lt => ord < 0
          case Ast.CmpOp.Le => ord <= 0
          case Ast.CmpOp.Gt => ord > 0
          case Ast.CmpOp.Ge => ord >= 0
        })
      }
    }
    for (f <- fields if f.check.nonEmpty) {
      // a disjunct is definitely FALSE iff some atom is Some(false)
      // (3VL AND: FALSE dominates NULL); the DNF is definitely FALSE
      // iff every disjunct is
      val definiteFalse = f.check.forall(conj =>
        conj.exists(c => atom(f, c).contains(false)))
      if (definiteFalse) throw ExecError(
        s"CHECK violation on '$label.${f.name}': " +
          s"CHECK (${Ast.renderCheck(f.check)}) is false for the row")
    }
  }

  /** `p`'s value as a literal of its field's Spark type, a null too, so
    * no comparison or SET with it needs the analyzer's coercion.
    */
  private def typed(label: String, p: Ast.Property, isNode: Boolean): Literal = {
    val tpe = fieldType(label, p.name, isNode)
    Literal.create(coerce(p.value, tpe), Types.toSpark(tpe))
  }

  /** A WHERE's null-safe equalities as one predicate over a [[Ref]].
    * Every field and literal is checked here, before any state changes.
    */
  private def whereCond(label: String, props: Seq[Ast.Property],
      isNode: Boolean): Ref => Expression = {
    val lits = props.map(p => p.name -> typed(label, p, isNode))
    field => lits.map { case (n, v) => EqualNullSafe(field(n), v): Expression }
      .reduceOption(And).getOrElse(Literal.TrueLiteral)
  }

  // ----------------------------------------------------------- execute

  /** Execute one statement; MATCH returns its result DataFrame. */
  def execute(stmt: Ast.Stmt): Option[DataFrame] = stmt match {

    case ddl @ (_: Ast.CreateNode | _: Ast.CreateEdge | _: Ast.AlterNode |
                _: Ast.AlterEdge | _: Ast.DropNode | _: Ast.DropEdge) =>
      applyDdl(ddl); None

    case Ast.InsertNode(label, props) =>
      val nt = cat.nodes.getOrElse(label, throw ExecError(s"unknown node type: $label"))
      val st = nodeState.getOrElseUpdate(label, new LabelState(nodeSchema(label)))
      val byName = props.map(p => p.name -> p).toMap
      props.foreach(p => fieldType(label, p.name, isNode = true)) // unknown-field check
      val values = nt.fields.map { f =>
        val v = byName.get(f.name).map(p => coerce(p.value, f.tpe))
          .orElse(f.defaultRaw.map(d => coerce(inferLiteral(d), f.tpe)))
          .getOrElse {
            if (f.notNull) throw ExecError(s"required field '${f.name}' is missing")
            null
          }
        // explicit `field: null` (or DEFAULT null) must not slip past
        // NOT NULL — the schema declares the column non-nullable
        if (v == null && f.notNull)
          throw ExecError(s"required field '${f.name}' is null")
        v
      }
      enforceChecks(label, nt.fields,
        nt.fields.map(_.name).zip(values).toMap, isNode = true)
      st.pending += Interpreter.internalRow(nextIdValue() +: values)
      None

    case Ast.InsertEdge(label, fromRef, toRef, props) =>
      val et = cat.edges.getOrElse(label, throw ExecError(s"unknown edge type: $label"))
      if (fromRef.nodeType != et.from.label)
        throw ExecError(s"FROM node type '${fromRef.nodeType}' does not match edge FROM '${et.from.label}'")
      if (toRef.nodeType != et.to.label)
        throw ExecError(s"TO node type '${toRef.nodeType}' does not match edge TO '${et.to.label}'")
      val src = findNodeId(fromRef)
      val dst = findNodeId(toRef)
      val st = edgeState.getOrElseUpdate(label, new LabelState(edgeSchema(label)))
      val byName = props.map(p => p.name -> p).toMap
      props.foreach(p => fieldType(label, p.name, isNode = false))
      val values = et.props.map { f =>
        val v = byName.get(f.name).map(p => coerce(p.value, f.tpe))
          .orElse(f.defaultRaw.map(d => coerce(inferLiteral(d), f.tpe)))
          .getOrElse {
            if (f.notNull) throw ExecError(s"required prop '${f.name}' is missing")
            null
          }
        // mirror the node path: the edge schema declares notNull props
        // non-nullable, so a null here would corrupt createDataFrame
        if (v == null && f.notNull)
          throw ExecError(s"required prop '${f.name}' is null")
        v
      }
      enforceChecks(label, et.props,
        et.props.map(_.name).zip(values).toMap, isNode = false)
      st.pending += Interpreter.internalRow(Seq(nextIdValue(), src, dst) ++ values)
      None

    case Ast.UpdateNode(label, set, where) =>
      update(label, set, where, isNode = true); None

    case Ast.UpdateEdge(label, set, where) =>
      update(label, set, where, isNode = false); None

    case Ast.DeleteNode(label, where) =>
      stateOf(label, isNode = true).delete(whereCond(label, where, isNode = true))
      None

    case Ast.DeleteEdge(label, where) =>
      stateOf(label, isNode = false).delete(whereCond(label, where, isNode = false))
      None

    case Ast.Match(pattern, where, ret) =>
      // The reference matches each pattern element independently and
      // emits every element's result set (server.go:724 executeMatch
      // loops over stmt.Pattern). Re-expressed relationally: one
      // filtered scan per element, unioned by name with a `_label`
      // discriminator. A WHERE condition naming a prop an element
      // lacks matches nothing for that element (matchesConditions
      // returns false on a missing key) — with a single element that
      // is still a hard error, which catches typos.
      if (pattern.isEmpty) throw ExecError("empty MATCH pattern")
      pattern.foreach { el =>
        if (!cat.nodes.contains(el.tpe)) throw ExecError(s"unknown node type: ${el.tpe}")
      }
      val missing = pattern.map(el => where.find(p => cat.nodes(el.tpe).field(p.name).isEmpty))
      if (pattern.sizeIs == 1) {
        // single element: schema untouched, RETURN projected with it
        missing.head.foreach(p => throw ExecError(s"unknown field '${p.name}' on ${pattern.head.tpe}"))
        val el = pattern.head.tpe
        Some(stateOf(el, isNode = true).select(whereCond(el, where, isNode = true), ret))
      } else {
        // an element missing a WHERE field cannot match; others still can
        val labelled = pattern.zip(missing).collect { case (el, None) =>
          stateOf(el.tpe, isNode = true)
            .select(whereCond(el.tpe, where, isNode = true), Nil)
            .withColumn("_label", lit(el.tpe))
        }
        if (labelled.isEmpty)
          throw ExecError("WHERE references fields absent from every pattern element")
        val df = labelled.reduce(_.unionByName(_, allowMissingColumns = true))
        Some(if (ret.nonEmpty) df.select(ret.map(col): _*) else df)
      }

    case Ast.Show(showEdges) =>
      import spark.implicits._
      if (showEdges) {
        val rows = cat.edges.values.toSeq.sortBy(_.name).map { e =>
          (e.name, e.from.label, if (e.from.many) "MANY" else "ONE",
            e.to.label, if (e.to.many) "MANY" else "ONE", e.props.size.toLong)
        }
        Some(rows.toDF("edge", "from_label", "from_card", "to_label", "to_card", "n_props"))
      } else {
        val rows = cat.nodes.values.toSeq.sortBy(_.name).map { n =>
          (n.name, n.fields.size.toLong, n.pk.mkString(","))
        }
        Some(rows.toDF("node", "n_fields", "primary_key"))
      }

    case Ast.Describe(isEdge, name) =>
      import spark.implicits._
      val (fields, pk) =
        if (isEdge) {
          val et = cat.edges.getOrElse(name, throw ExecError(s"unknown edge type: $name"))
          (et.props, Nil)
        } else {
          val nt = cat.nodes.getOrElse(name, throw ExecError(s"unknown node type: $name"))
          (nt.fields, nt.pk)
        }
      val rows = fields.map { f =>
        (f.name, Ast.renderType(f.tpe), pk.contains(f.name), f.unique, f.notNull,
          f.defaultRaw.orNull,
          if (f.check.isEmpty) null
          else Ast.renderCheck(f.check))
      }
      Some(rows.toDF("field", "type", "primary_key", "unique", "not_null",
        "default", "check"))
  }

  /** Parse + execute a script; returns the last MATCH result, if any. */
  def executeScript(script: String): Option[DataFrame] =
    Parser.parse(script).foldLeft(Option.empty[DataFrame]) { (acc, s) =>
      execute(s).orElse(acc)
    }

  /** WAL replay: reconstruct state from an ordered statement log. */
  def replay(script: String): Unit = { executeScript(script); () }

  /** Boot-path state reconstruction from an on-disk commit log
    * (reference server replay-on-boot: every logged statement re-applied
    * in order).
    */
  def replayLog(log: graft.store.CommitLog): Unit =
    log.replay(line => { executeScript(line); () })

  /** Execute a script AND append its statements to the commit log —
    * the serving-path pairing of [[replayLog]]. MATCH statements are
    * not logged (reads don't mutate state, reference server.go appends
    * mutating commands only). Ordering per statement: render first
    * (loggability check — the TEXT WAL is line-based, so a raw newline
    * inside a string literal is rejected BEFORE any state change; the
    * BINARY format frames by length and represents it fine), then
    * execute, then append — a statement that fails execution never
    * reaches the log, so replay cannot be poisoned.
    */
  def executeLogged(script: String, log: graft.store.CommitLog): Option[DataFrame] =
    Parser.parse(script).foldLeft(Option.empty[DataFrame]) { (acc, s) =>
      s match {
        // reads never reach the log (reference server.go appends
        // mutating commands only)
        case _: Ast.Match | _: Ast.Show | _: Ast.Describe => execute(s).orElse(acc)
        case _ =>
          val line = Ast.render(s)
          if (log.format == graft.store.CommitLog.Text &&
              line.exists(c => c == '\n' || c == '\r'))
            throw ExecError(
              "statement contains a raw newline in a string literal; " +
                "the line-based text commit log cannot represent it " +
                "(use the binary log format)")
          val out = execute(s)
          log.append(line)
          out.orElse(acc)
      }
    }

  /** Snapshot-compaction of the statement WAL (the catalog store's
    * snapshot + bounded-replay discipline extended to the DATA log —
    * the reference replays the FULL commit log on boot): write the
    * current label tables + catalog + id counter as snapshot
    * generation G+1, open a fresh empty `commit.{G+1}.log`, and drop
    * the old generation. From here, boot work is bounded by statements
    * logged AFTER the snapshot, not by history. Publishing is the
    * atomic meta.json rename ([[graft.store.Snapshot]]); a crash
    * mid-compaction leaves the previous generation + its full log
    * authoritative.
    *
    * Returns the new generation's (empty) commit log; the caller
    * continues with `executeLogged(script, newLog)`. `format` sets the
    * fresh generation's WAL encoding (a deployment flag, reference
    * cmd/server/main.go:43 — compaction is the natural point to switch
    * formats, since the new log starts empty).
    */
  def compact(dataDir: String,
      format: graft.store.CommitLog.Format = graft.store.CommitLog.Text)
      : graft.store.CommitLog = {
    import graft.store.Snapshot
    val gen = Snapshot.latest(dataDir).map(_._1).getOrElse(0L) + 1
    val dir = Snapshot.snapDir(dataDir, gen)
    Snapshot.deleteRecursively(dir) // stale partial from a crashed attempt
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("catalog.json"),
      graft.catalog.CatalogJson.write(cat))
    val nodeLabels = nodeState.keys.toSeq.sorted
    val edgeLabels = edgeState.keys.toSeq.sorted
    nodeLabels.foreach(l => nodeState(l).snapshot(dir.resolve("nodes").resolve(l)))
    edgeLabels.foreach(l => edgeState(l).snapshot(dir.resolve("edges").resolve(l)))
    Snapshot.publishMeta(dir,
      Snapshot.Meta(gen, nextId, nodeLabels, edgeLabels))
    val log = Snapshot.openLog(dataDir, gen, format)
    // eager empty log file: the generation's WAL exists from birth
    if (!java.nio.file.Files.exists(log.path))
      java.nio.file.Files.createFile(log.path)
    // repoint live state at the snapshot files BEFORE dropping the old
    // generation (a previously-booted state may still read old files),
    // and so post-compaction lineage starts from the snapshot
    nodeLabels.foreach(l => nodeState(l).repoint(dir.resolve("nodes").resolve(l)))
    edgeLabels.foreach(l => edgeState(l).repoint(dir.resolve("edges").resolve(l)))
    // retention sweep (supersedes the plain drop-older): also clears
    // unpublished partials a crashed earlier attempt may have left
    Snapshot.sweep(dataDir, snapshotKeep)
    log
  }

  /** Generation-retention knob for the boot/compaction sweeps — the
    * r12 advisory: `sweep(keep = n)` existed but nothing plumbed it,
    * so a deployment that retained extra generations for time travel
    * lost generation N-1 on the next boot. Env/prop-overridable,
    * default 1 (live generation only).
    */
  private def snapshotKeep: Int =
    sys.props.get("graft.snapshotKeep")
      .orElse(sys.env.get("GRAFT_SNAPSHOT_KEEP"))
      .map(_.toInt).getOrElse(1)

  /** Standing compaction policy for a serving deployment: roll the WAL
    * into a snapshot generation once it exceeds `maxStatements` lines
    * (run after each script; the check is one driver-side line count
    * of a bounded file). Keeps boot replay bounded by the policy knob
    * instead of history. Returns the log to continue with — the fresh
    * generation's when compaction fired (same format), the same one
    * otherwise. `entryCount` is the format-independent unit (text
    * lines ≡ binary frames).
    */
  def compactIfNeeded(dataDir: String, log: graft.store.CommitLog,
      maxStatements: Int): graft.store.CommitLog =
    if (log.entryCount >= maxStatements) compact(dataDir, log.format) else log

  /** Boot-path state reconstruction with bounded replay: load the
    * latest snapshot generation (catalog, label tables, id counter)
    * and replay only its suffix log — or, with no snapshot, replay the
    * full generation-0 log (the reference's plain replay-on-boot).
    * Returns the live generation's commit log for serving. `format`
    * must match what the deployment wrote with — a flag, exactly as in
    * the reference (cmd/server/main.go:43), not file magic.
    */
  def bootFrom(dataDir: String,
      format: graft.store.CommitLog.Format = graft.store.CommitLog.Text)
      : graft.store.CommitLog = {
    import graft.store.Snapshot
    // generation GC at boot: crashed-compaction partials and out-of-
    // retention generations never accumulate across restarts (the
    // sweep keeps the newest published generation + its WAL; with no
    // published generation it keeps the gen-0 log, which IS the state)
    Snapshot.sweep(dataDir, snapshotKeep)
    Snapshot.latest(dataDir) match {
      case Some((gen, meta)) =>
        val dir = Snapshot.snapDir(dataDir, gen)
        cat = graft.catalog.CatalogJson.read(
          java.nio.file.Files.readString(dir.resolve("catalog.json")))
        nextId = meta.nextId
        nodeState.clear(); edgeState.clear()
        meta.nodes.foreach { l =>
          val st = new LabelState(nodeSchema(l))
          st.boot(dir.resolve("nodes").resolve(l))
          nodeState(l) = st
        }
        meta.edges.foreach { l =>
          val st = new LabelState(edgeSchema(l))
          st.boot(dir.resolve("edges").resolve(l))
          edgeState(l) = st
        }
        val log = Snapshot.openLog(dataDir, gen, format)
        replayLog(log)
        log
      case None =>
        val log = graft.store.CommitLog.open(dataDir, format)
        replayLog(log)
        log
    }
  }

  /** Current node set for a label (empty DF if nothing inserted). */
  def nodes(label: String): DataFrame = {
    if (!cat.nodes.contains(label)) throw ExecError(s"unknown node type: $label")
    nodeState.getOrElseUpdate(label, new LabelState(nodeSchema(label))).materialize()
  }

  /** Current edge set for a label. */
  def edges(label: String): DataFrame = {
    if (!cat.edges.contains(label)) throw ExecError(s"unknown edge type: $label")
    edgeState.getOrElseUpdate(label, new LabelState(edgeSchema(label))).materialize()
  }

  // ----------------------------------------------------------- helpers

  private def nextIdValue(): Long = { val v = nextId; nextId += 1; v }

  private def stateOf(label: String, isNode: Boolean): LabelState =
    if (isNode) {
      if (!cat.nodes.contains(label)) throw ExecError(s"unknown node type: $label")
      nodeState.getOrElseUpdate(label, new LabelState(nodeSchema(label)))
    } else {
      if (!cat.edges.contains(label)) throw ExecError(s"unknown edge type: $label")
      edgeState.getOrElseUpdate(label, new LabelState(edgeSchema(label)))
    }

  /** UPDATE: the SET literals and the WHERE, each checked and typed
    * before the label changes. A null SET on a NOT NULL field is
    * rejected as INSERT rejects it: the check is on the literal, once
    * per statement.
    */
  private def update(label: String, set: Seq[Ast.Property], where: Seq[Ast.Property],
      isNode: Boolean): Unit = {
    val st = stateOf(label, isNode)
    val sets = set.map { p =>
      val v = typed(label, p, isNode)
      if (v.value == null && fieldSpec(label, p.name, isNode).notNull)
        throw ExecError(s"required field '${p.name}' is null")
      p.name -> (v: Expression)
    }.toMap
    st.update(whereCond(label, where, isNode), sets)
  }

  /** Endpoint resolution (reference server.go:745 findNodeID): by id, or
    * smallest-id row matching the property equalities (deterministic
    * where the reference takes map-iteration order).
    */
  private def findNodeId(ref: Ast.NodeRef): Long = {
    val st = stateOf(ref.nodeType, isNode = true)
    val cond: Ref => Expression = ref.id match {
      case Some(idLit) =>
        // graft node ids are longs; a non-numeric id ref is a statement
        // error, not a NumberFormatException from the bowels
        val id = try idLit.text.toLong catch {
          case _: NumberFormatException =>
            throw ExecError(s"node id must be an integer, got '${idLit.text}'")
        }
        field => EqualNullSafe(field("_id"), Literal(id))
      case None => whereCond(ref.nodeType, ref.properties, isNode = true)
    }
    st.firstId(cond).getOrElse(throw ExecError(s"no matching ${ref.nodeType} node found"))
  }

  private def inferLiteral(raw: String): Ast.Literal =
    if (raw == "null") Ast.Literal(Ast.LitKind.Null, raw)
    else if (raw == "true" || raw == "false") Ast.Literal(Ast.LitKind.Bool, raw)
    else if (raw.nonEmpty && raw.forall(c => c.isDigit || c == '.' || c == '-'))
      Ast.Literal(Ast.LitKind.Num, raw)
    else Ast.Literal(Ast.LitKind.Str, raw)

  /** ALTER-time CHECK revalidation — strict ADD CONSTRAINT semantics
    * (documented choice per SURVEY §2.2 row 18b): an ALTER that adds or
    * changes a CHECK is REJECTED when already-stored rows violate it,
    * before any catalog or data mutation, so schema and data never
    * disagree. The probe previews the post-ALTER column (new fields
    * appear as NULL — NULL passes, but a sibling-field atom can still
    * be definitely FALSE on stored rows) and runs the same
    * Constraints.checkViolations predicate the batch finder uses.
    */
  private def revalidateCheck(label: String, fd: Ast.FieldDef,
      isNode: Boolean, added: Boolean): Unit =
    if (fd.check.nonEmpty) {
      val stOpt = if (isNode) nodeState.get(label) else edgeState.get(label)
      stOpt.foreach { st =>
        val base = st.materialize()
        val preview =
          if (added) base.withColumn(fd.name, lit(null).cast(Types.toSpark(fd.tpe)))
          else base.withColumn(fd.name, col(fd.name).cast(Types.toSpark(fd.tpe)))
        val bad = graft.store.Constraints.checkViolations(preview, fd.check).count()
        if (bad > 0) throw ExecError(
          s"ALTER rejected: CHECK on '$label.${fd.name}' is violated by " +
            s"$bad stored row${if (bad == 1) "" else "s"}")
      }
    }

  private def applyDdl(stmt: Ast.Stmt): Unit = {
    val next = Ddl(cat, stmt) // validates (incl. DDL-time CHECK sanity)
    stmt match {
      case Ast.AlterNode(n, Ast.AlterNodeAction.AddField(fd)) =>
        revalidateCheck(n, fd, isNode = true, added = true)
      case Ast.AlterNode(n, Ast.AlterNodeAction.ModifyField(fd)) =>
        revalidateCheck(n, fd, isNode = true, added = false)
      case Ast.AlterEdge(n, Ast.AlterEdgeAction.AddProp(fd)) =>
        revalidateCheck(n, fd, isNode = false, added = true)
      case Ast.AlterEdge(n, Ast.AlterEdgeAction.ModifyProp(fd)) =>
        revalidateCheck(n, fd, isNode = false, added = false)
      case _ => ()
    }
    cat = next
    // migrate stored DataFrames on schema change (SURVEY §2.1 row 3)
    stmt match {
      case Ast.AlterNode(name, action) =>
        nodeState.get(name).foreach(st => migrate(st, action, nodeSchema(name)))
      case Ast.AlterEdge(name, action) =>
        edgeState.get(name).foreach { st =>
          val migrated = action match {
            case Ast.AlterEdgeAction.AddProp(fd) =>
              Some((df: DataFrame) => df.withColumn(fd.name,
                lit(null).cast(Types.toSpark(fd.tpe))))
            case Ast.AlterEdgeAction.DropProp(n) =>
              Some((df: DataFrame) => df.drop(n))
            case Ast.AlterEdgeAction.ModifyProp(fd) =>
              Some((df: DataFrame) => df.withColumn(fd.name,
                col(fd.name).cast(Types.toSpark(fd.tpe))))
            case _ => None
          }
          migrated.fold(st.schema = edgeSchema(name))(st.mutate(_, edgeSchema(name)))
        }
      case Ast.DropNode(name) => nodeState.remove(name)
      case Ast.DropEdge(name) => edgeState.remove(name)
      case _ => ()
    }
  }

  private def migrate(st: LabelState, action: Ast.AlterNodeAction, newSchema: StructType): Unit = {
    val f: Option[DataFrame => DataFrame] = action match {
      case Ast.AlterNodeAction.AddField(fd) =>
        Some(_.withColumn(fd.name, lit(null).cast(Types.toSpark(fd.tpe))))
      case Ast.AlterNodeAction.DropField(n) => Some(_.drop(n))
      case Ast.AlterNodeAction.ModifyField(fd) =>
        Some(df => df.withColumn(fd.name, col(fd.name).cast(Types.toSpark(fd.tpe))))
      case Ast.AlterNodeAction.SetPrimaryKey(_) => None
    }
    f.fold(st.schema = newSchema)(st.mutate(_, newSchema))
  }
}

object Interpreter {
  /** The key columns of a label's rows, never null. */
  private val keys = Set("_id", "_src", "_dst")

  /** A driver row of the catalog values `vs`. */
  private def internalRow(vs: Seq[Any]): InternalRow =
    InternalRow.fromSeq(vs.map(CatalystTypeConverters.convertToCatalyst))

  /** `df`'s rows, collected and converted to Catalyst rows. */
  private def collectRows(df: DataFrame): Vector[InternalRow] = {
    val toRow = CatalystTypeConverters.createToCatalystConverter(df.schema)
    df.collect().iterator.map(toRow(_).asInstanceOf[InternalRow]).toVector
  }

  /** Estimated heap bytes of one driver row: the row and its value
    * array, a boxed value per set field, and a string's or binary's
    * payload at its length (two bytes a char).
    */
  private[graft] def rowBytes(r: Row): Long = bytes(r.length, r.get)

  private def rowBytes(r: InternalRow, schema: StructType): Long =
    bytes(schema.length, i => if (r.isNullAt(i)) null else r.get(i, schema(i).dataType))

  private def bytes(n: Int, value: Int => Any): Long = {
    var b = 32L + 4L * n
    var i = 0
    while (i < n) {
      b += (value(i) match {
        case null => 0L
        case s: String => 40L + 2L * s.length
        case s: UTF8String => 40L + 2L * s.numChars
        case a: Array[Byte] => 16L + a.length
        case _ => 24L
      })
      i += 1
    }
    b
  }

  /** [[rowBytes]] all labels together keep on the driver: 2 MiB.
    * Measured with the test-scope `graft.lang.BudgetProbe` (`-Xmx2g`,
    * `local[4]`, one label of `(long, string, long)` rows, 7-char
    * names): an UPDATE over driver rows costs about 2 ms plus 0.17 µs a
    * row (2.7 ms at 10k rows, 7.7 at 50k, 36 at 200k), a DELETE about
    * 2 ms plus 0.12 µs a row (25 ms at 200k); over a Spark table an
    * UPDATE costs 70 to 180 ms and a DELETE 50 to 90 ms at those sizes.
    * The driver still wins at 200k rows (28 MiB estimated, about 40 MB
    * retained), and by extrapolation stops winning at roughly 500k to
    * 700k rows. The budget was placed at 2 MiB when driver statements
    * planned a query each (a crossover at 15k to 20k rows); it stays
    * there until a workload with a label near it can measure a move.
    */
  private[graft] val driverBudget: Long = 2L << 20
}
