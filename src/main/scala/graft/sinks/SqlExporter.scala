package graft.sinks

import graft.model.{NodeRow, PrunedNode, Relation, RelationOrientation, Schema}
import graft.util.Spark
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Relational export (reference database/export/sql.py:47-371),
  * re-expressed set-wise: a per-tree kernel emits each table's cells
  * (group ENT values, FK targets, junction pairs) and one merge per
  * (table, key) builds the rows. FK columns come from REL member oids and
  * BOTH-oriented relations become junction tables — the reference's
  * per-row recursive INSERT with SELECT-before-INSERT dedup disappears
  * entirely.
  */
object SqlExporter {

  /** default_pk_factory (export/sql.py:35-44). */
  def pkColumn(table: String): String = s"$PkPrefix${table}ID"

  /** The prefix of PK and FK column names. */
  private val PkPrefix = "architxt_"

  /** Exported tables + DDL. A table built in Spark is a projection of a
    * checkpoint of the merged rows; a table built on the driver is local
    * data. Call `release()` once the tables are written: checkpoint
    * blocks are freed only by an explicit release or session end, so a
    * session exporting corpus after corpus would otherwise accumulate
    * them without bound.
    */
  final case class Export(
      tables: Map[String, DataFrame],
      ddl: Seq[String],
      release: () => Unit = () => ())

  /** One cell the SQL kernel emits: the ENT value `value` of column
    * `column` of group `table`'s row `key`, the FK target of a LEFT or
    * RIGHT relation's source row, or a BOTH relation's (left, right) pair.
    */
  private[sinks] final case class Cell(table: String, key: String, column: String, value: String, kind: Int)
  private val EntCell = 0
  private val FkCell = 1
  private val PairCell = 2

  /** One merged row of table `table`: its PK `key` and its other cells. */
  private[sinks] final case class TableRow(table: String, key: String, cells: Map[String, String])

  /** Export `schema`'s groups and relations from `nodes`. A kernel reads
    * one tree's ENT rows, the GROUP rows of the schema's groups and
    * relation sides, and the REL rows of its relations (`cellsOf`); the
    * merge builds each (table, key)'s rows (`rowsOf`) and lays them out
    * as tables. Through `Schema.perTree`, at most [[Schema.LocalMaxNodes]]
    * of those rows are collected and the tables are built on the driver
    * as local DataFrames; above it the kernel runs in Spark and the merged
    * rows are checkpointed. Both give the same tables, columns and types,
    * and run one cast-inference query for all tables.
    */
  def export(nodes: Dataset[NodeRow], schema: Schema): Export =
    export(nodes, schema, Schema.LocalMaxNodes)

  /** [[export]] under an explicit driver-path bound; 0 forces the
    * Dataset path.
    */
  private[graft] def export(nodes: Dataset[NodeRow], schema: Schema, localMaxNodes: Long): Export = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val groupNames = schema.groups.map(_.name)
    val sideNames = schema.relations.flatMap(r => Set(r.left, r.right))
    val rows = Schema.pruned(nodes, col("nodeType") === "ENT" ||
      (col("nodeType") === "GROUP" && col("name").isin((groupNames | sideNames).toSeq: _*)) ||
      (col("nodeType") === "REL" && col("name").isin(schema.relations.toSeq.map(_.name): _*)))
    // each placement gives the tables, their non-PK cells in long form
    // (table, column, value) for the cast query, and the release
    val (tables, longForm, release) = Schema.perTree(rows, localMaxNodes)(cellsOf(schema))(
      cells => {
        val merged = cells.groupBy(c => (c.table, c.key)).toSeq.flatMap { case ((t, k), cs) => rowsOf(t, k, cs) }
        val byTable = merged.groupBy(_.table)
        val tables = layout(schema, byTable.view.mapValues(_.flatMap(_.cells.keys).toSet).toMap).map {
          case (name, cols) => name -> stringFrame(spark, cols, byTable.getOrElse(name, Nil)
            .map(r => Row.fromSeq(r.key +: cols.tail.map(r.cells.getOrElse(_, null)))))
        }
        val distinctCells = merged
          .flatMap(r => r.cells.collect { case (c, v) if !isPk(c) => Row(r.table, c, v) }).distinct
        (tables, Option.when(distinctCells.nonEmpty)(stringFrame(spark, Seq("table", "column", "value"), distinctCells)),
          () => ())
      },
      (cells, release) => {
        val held = Spark.checkpoint(cells.groupByKey(c => (c.table, c.key))
          .flatMapGroups((key: (String, String), cs: Iterator[Cell]) => rowsOf(key._1, key._2, cs.toSeq)))
        val keys = held.select(col("table"), explode(map_keys(col("cells"))))
          .distinct().as[(String, String)].collect().groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
        val tables = layout(schema, keys).map { case (name, cols) =>
          name -> held.filter(col("table") === name)
            .select(col("key").as(cols.head) +: cols.tail.map(c => col("cells")(c).as(c)): _*)
        }
        val long = held.select(col("table"), explode(col("cells")).as(Seq("column", "value")))
          .filter(!col("column").startsWith(PkPrefix))
        (tables, Some(long), () => {
          Spark.release(held)
          release()
        })
      })
    val casts = inferCasts(longForm.toSeq)
    val casted = tables.map { case (name, df) => name -> applyCasts(name, df, casts) }
    Export(casted, ddlFor(schema, casted), release)
  }

  /** The SQL kernel over one tree's rows: a (group, oid, entity, value)
    * cell for each ENT child of an exported group's instance, and for
    * each REL instance of an exported relation, each left × right member
    * pair as a junction pair (BOTH) or as the source row's FK cell (LEFT,
    * RIGHT; a null source oid joins no row).
    */
  private def cellsOf(schema: Schema)(tree: Seq[PrunedNode]): Seq[Cell] = {
    val groupNames = schema.groups.map(_.name)
    val relations = schema.relations.map(r => r.name -> r).toMap
    val kids = tree.groupBy(_.parentId)
    def children(n: PrunedNode, nodeType: String) = kids.getOrElse(n.nodeId, Nil).filter(_.nodeType == nodeType)
    tree.flatMap { n =>
      if (n.nodeType == "GROUP" && groupNames(n.name))
        children(n, "ENT").map(e => Cell(n.name, n.oid, e.name, e.value, EntCell))
      else if (n.nodeType == "REL") relations.get(n.name).toSeq.flatMap { rel =>
        val members = children(n, "GROUP")
        for {
          l <- members if l.name == rel.left
          r <- members if r.name == rel.right
          cell <- rel.orientation match {
            case RelationOrientation.Both => Some(Cell(rel.name, l.oid, pkColumn(rel.right), r.oid, PairCell))
            case _ =>
              val (srcName, fkName, srcIsLeft) = fkOf(rel)
              val (src, tgt) = if (srcIsLeft) (l.oid, r.oid) else (r.oid, l.oid)
              Option.when(src != null)(Cell(srcName, src, fkName, tgt, FkCell))
          }
        } yield cell
      }
      else Nil
    }
  }

  /** The merge of one (table, key)'s cells: a group row if it has an ENT
    * cell (a FK alone adds no row, as a left join would not), each column
    * the max of its ENT values or the min of its FK targets in Spark's
    * string order; a junction row per distinct pair.
    */
  private def rowsOf(table: String, key: String, cells: Seq[Cell]): Seq[TableRow] =
    if (cells.head.kind == PairCell)
      cells.map(_.value).distinct.map(v => TableRow(table, key, Map(cells.head.column -> v)))
    else if (!cells.exists(_.kind == EntCell)) Nil
    else Seq(TableRow(table, key, cells.groupBy(_.column).map { case (c, cs) =>
      c -> cs.map(_.value).reduce(if (cs.head.kind == FkCell) minOf else maxOf)
    }))

  /** Each table's columns: a group's PK, its entity columns (sorted,
    * from `keys`, each table's cell names) and one FK column per LEFT or
    * RIGHT relation it is the source of; a BOTH relation's two PKs.
    */
  private def layout(schema: Schema, keys: Map[String, Set[String]]): Map[String, Seq[String]] = {
    val fks = schema.relations.toSeq.filter(_.orientation != RelationOrientation.Both).map(fkOf)
    schema.groups.toSeq.map { g =>
      val fkCols = fks.collect { case (src, fk, _) if src == g.name => fk }
      g.name -> ((pkColumn(g.name) +: (keys.getOrElse(g.name, Set.empty) -- fkCols).toSeq.sorted) ++ fkCols)
    }.toMap ++ schema.relations.collect {
      case r if r.orientation == RelationOrientation.Both => r.name -> Seq(pkColumn(r.left), pkColumn(r.right))
    }
  }

  /** A LEFT or RIGHT relation's FK wiring (export/sql.py:114-134): LEFT
    * gives the left group an FK to the right, RIGHT the reverse. Returns
    * the source group, the FK column's name, and whether the source is
    * the left side.
    */
  private def fkOf(rel: Relation): (String, String, Boolean) = {
    val srcIsLeft = rel.orientation == RelationOrientation.Left
    val (srcName, tgtName) = if (srcIsLeft) (rel.left, rel.right) else (rel.right, rel.left)
    (srcName, if (srcName == tgtName) rel.name else pkColumn(tgtName), srcIsLeft)
  }

  /** Spark's order on strings (UTF-8 bytes), which `max` and `min` use. */
  private val SparkStringOrder: Ordering[String] =
    Ordering.by[String, UTF8String](UTF8String.fromString)(Ordering.fromLessThan(_.compareTo(_) < 0))

  private def maxOf(a: String, b: String): String =
    if (a == null) b else if (b == null) a else SparkStringOrder.max(a, b)

  private def minOf(a: String, b: String): String =
    if (a == null) b else if (b == null) a else SparkStringOrder.min(a, b)

  /** A local DataFrame of nullable string columns. */
  private def stringFrame(spark: SparkSession, cols: Seq[String], rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(cols.map(StructField(_, StringType))))

  /** The candidate types of cast-on-export (export/sql.py:262-300),
    * lifted to column level: a column gets the first type, in the
    * reference's precedence (boolean, int, float, datetime, date), that
    * every non-null value satisfies by its string form, else stays
    * string. Each is the expression that casts a column by name. try_*
    * variants everywhere: ANSI mode (Spark 4 default) makes plain cast
    * throw on malformed values.
    */
  private val Candidates: Seq[(String, String => Column)] = Seq(
    "boolean" -> (n => when(lower(col(n)).isin("true", "false"), lower(col(n)).cast("boolean"))),
    "bigint" -> (n => expr(s"try_cast(`$n` AS BIGINT)")),
    "double" -> (n => expr(s"try_cast(`$n` AS DOUBLE)")),
    "timestamp" -> (n => expr(s"try_to_timestamp(`$n`, 'yyyy-MM-dd HH:mm:ss')")),
    "date" -> (n => expr(s"try_cast(`$n` AS DATE)")))

  /** PK and FK columns, which the export never casts. */
  private def isPk(column: String): Boolean = column.startsWith(PkPrefix)

  /** The candidate each (table, column) casts to, from one aggregation
    * over the union of `longForms`: the first candidate, in precedence
    * order, that casts every non-null value of a column with at least one.
    */
  private def inferCasts(longForms: Seq[DataFrame]): Map[(String, String), String => Column] =
    longForms.reduceOption(_ union _).fold(Map.empty[(String, String), String => Column]) { long =>
      val checks = count(col("value")).as("n") +: Candidates.map { case (t, f) => count(f("value")).as(t) }
      long.groupBy("table", "column").agg(checks.head, checks.tail: _*).collect().flatMap { r =>
        val n = r.getAs[Long]("n")
        Candidates.collectFirst {
          case (t, f) if n > 0 && r.getAs[Long](t) == n => (r.getString(0), r.getString(1)) -> f
        }
      }.toMap
    }

  /** `df` with each non-PK column of `table` cast as `casts` says. */
  private def applyCasts(
      table: String, df: DataFrame, casts: Map[(String, String), String => Column]): DataFrame =
    df.select(df.columns.toIndexedSeq.map { name =>
      if (isPk(name)) col(name)
      else casts.get((table, name)).fold(col(name))(_(name)).as(name)
    }: _*)

  private def ddlFor(schema: Schema, tables: Map[String, DataFrame]): Seq[String] = {
    val relNames = schema.relations.map(_.name)
    tables.toSeq.sortBy(_._1).map { case (name, df) =>
      val isJunction = relNames.contains(name)
      val cols = df.schema.fields.map { f =>
        val sqlType = f.dataType.simpleString match {
          case "string" => "VARCHAR"
          case "bigint" => "BIGINT"
          case "double" => "DOUBLE"
          case "boolean" => "BOOLEAN"
          case "timestamp" => "TIMESTAMP"
          case "date" => "DATE"
          case other => other.toUpperCase
        }
        val pk = if (f.name == pkColumn(name) && !isJunction) " PRIMARY KEY" else ""
        s"  ${f.name} $sqlType$pk"
      }
      s"CREATE TABLE $name (\n${cols.mkString(",\n")}\n);"
    }
  }

  /** Write every exported table as parquet under `outDir/<table>`. */
  def writeParquet(nodes: Dataset[NodeRow], schema: Schema, outDir: String): Export = {
    val ex = export(nodes, schema)
    ex.tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name")
    }
    ex
  }
}
