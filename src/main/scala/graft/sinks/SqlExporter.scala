package graft.sinks

import graft.model.{NodeRow, Relation, RelationOrientation, Schema}
import graft.util.Spark
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Relational export (reference database/export/sql.py:47-371),
  * re-expressed set-wise: group tables are oid-keyed pivots, FK columns
  * come from a join on REL member oids, BOTH-oriented relations become
  * junction tables — the reference's per-row recursive INSERT with
  * SELECT-before-INSERT dedup disappears entirely.
  */
object SqlExporter {

  /** default_pk_factory (export/sql.py:35-44). */
  def pkColumn(table: String): String = s"architxt_${table}ID"

  /** Exported tables + DDL. A table built in Spark is backed by a
    * persisted (MEMORY_AND_DISK) pre-cast intermediate that the
    * cast-inference pass already materialized — consuming a table
    * re-reads that cache rather than re-running its pivot + FK-join
    * chain; a table built on the driver is local data. Call `release()`
    * once the tables are written: disk-spilled cache blocks are freed
    * only by unpersist or session end, so a session exporting corpus
    * after corpus would otherwise accumulate them without bound.
    */
  final case class Export(
      tables: Map[String, DataFrame],
      ddl: Seq[String],
      release: () => Unit = () => ())

  /** Export `schema`'s groups and relations from `nodes`. The rows the
    * export reads (ENT rows, the GROUP rows of its groups and relation
    * sides, the REL rows of its relations; 7 columns) go through
    * `Spark.placed`. At most [[Schema.LocalMaxNodes]] of them are collected
    * and the tables are built on the driver (`exportLocal`) as local
    * DataFrames; above it they are built in Spark
    * (`exportDistributed`). Both paths give the same tables, columns and
    * types, and run one cast-inference query for all tables.
    */
  def export(nodes: Dataset[NodeRow], schema: Schema): Export =
    export(nodes, schema, Schema.LocalMaxNodes)

  /** [[export]] under an explicit driver-path bound; 0 forces the
    * distributed path.
    */
  private[graft] def export(nodes: Dataset[NodeRow], schema: Schema, localMaxNodes: Long): Export = {
    val groupNames = schema.groups.map(_.name)
    val sideNames = schema.relations.flatMap(r => Set(r.left, r.right))
    val pruned = nodes
      .filter(col("nodeType") === "ENT" ||
        (col("nodeType") === "GROUP" && col("name").isin((groupNames | sideNames).toSeq: _*)) ||
        (col("nodeType") === "REL" && col("name").isin(schema.relations.toSeq.map(_.name): _*)))
      .select(col("treeId"), col("nodeId"), col("parentId"), col("nodeType"), col("name"),
        col("value"), col("oid"))
    Spark.placed(pruned, localMaxNodes) match {
      case Spark.OnDriver(rows) => exportLocal(nodes.sparkSession, rows, schema)
      case spread: Spark.InSpark[Row] => exportDistributed(spread, schema)
    }
  }

  /** The export in Spark over the pruned rows. Each pre-cast table is
    * persisted (MEMORY_AND_DISK) and the cast-inference query materializes
    * it, so consuming a table re-reads that cache rather than re-running
    * its pivot + FK-join chain. `release()` unpersists them and the pruned
    * checkpoint.
    */
  private def exportDistributed(spread: Spark.InSpark[Row], schema: Schema): Export = {
    val pruned = spread.ds
    val groupTables = scala.collection.mutable.Map.empty[String, DataFrame]

    // (group instance × child entity) rows for every exported group at
    // once: the per-group pivot COLUMNS all derive from one aggregation
    // pass instead of a distinct().collect() job per group — at export
    // scale the cost is job count, not data size
    val groupNames = schema.groups.map(_.name).toSeq
    val groupRows = pruned
      .filter(col("nodeType") === "GROUP" && col("name").isin(groupNames: _*))
      .select(
        col("treeId").as("gTree"), col("nodeId").as("gNode"),
        col("name").as("gName"), col("oid").as("gOid"))
    val entRows = pruned
      .filter(col("nodeType") === "ENT")
      .select(col("treeId"), col("parentId"), col("name").as("entName"), col("value"))
    val groupEnts = entRows.join(
      groupRows, col("treeId") === col("gTree") && col("parentId") === col("gNode"))
    val entColsByGroup: Map[String, Seq[String]] = groupEnts
      .groupBy("gName").agg(collect_set(col("entName")).as("cols"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).sorted.toSeq).toMap

    for (group <- schema.groups) {
      val df = groupTable(groupEnts, group.name, entColsByGroup.getOrElse(group.name, Nil))
      groupTables(group.name) = df
    }

    val junctions = scala.collection.mutable.Map.empty[String, DataFrame]
    for (rel <- schema.relations) {
      val pairs = relationPairs(pruned, rel.name, rel.left, rel.right)
      rel.orientation match {
        case RelationOrientation.Both =>
          junctions(rel.name) = pairs
            .select(
              col("leftOid").as(pkColumn(rel.left)),
              col("rightOid").as(pkColumn(rel.right)))
            .dropDuplicates()
        case _ =>
          val (srcName, fkName, srcIsLeft) = fkOf(rel)
          val (srcCol, tgtCol) = if (srcIsLeft) ("leftOid", "rightOid") else ("rightOid", "leftOid")
          // the min target oid per source, whatever order the pairs arrive in
          val fk = pairs
            .groupBy(col(srcCol).as(pkColumn(srcName)))
            .agg(min(col(tgtCol)).as(fkName))
          groupTables(srcName) = groupTables(srcName).join(fk, Seq(pkColumn(srcName)), "left")
      }
    }

    val cached = (groupTables.toMap ++ junctions.toMap).map { case (name, df) =>
      name -> df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val casts = inferCasts(cached.toSeq.flatMap { case (name, df) =>
      val valueCols = df.columns.filterNot(isPk)
      Option.when(valueCols.nonEmpty)(cells(name, df, valueCols.toSeq))
    })
    val casted = cached.map { case (name, df) => name -> applyCasts(name, df, casts) }
    Export(casted, ddlFor(schema, casted), () => {
      cached.values.foreach(_.unpersist())
      spread.release()
    })
  }

  /** One row per distinct group oid, columns = entity names + oid PK.
    * `groupEnts` = the shared (group instance × child entity) join;
    * `entCols` = this group's pivot columns, precomputed in one pass
    * for all groups by [[exportDistributed]].
    */
  private def groupTable(groupEnts: DataFrame, groupName: String, entCols: Seq[String]): DataFrame =
    groupEnts
      .filter(col("gName") === groupName)
      .groupBy(col("gOid").as(pkColumn(groupName)))
      .pivot("entName", entCols)
      .agg(max("value"))

  /** (relOid, leftOid, rightOid) per REL instance, sides matched by group
    * name (export/sql.py:216-236).
    */
  private def relationPairs(nodes: DataFrame, relName: String, left: String, right: String): DataFrame = {
    val rels = nodes
      .filter(col("nodeType") === "REL" && col("name") === relName)
      .select(col("treeId").as("rTree"), col("nodeId").as("rNode"))
    val members = nodes
      .filter(col("nodeType") === "GROUP")
      .select(col("treeId"), col("parentId"), col("name").as("gName"), col("oid"))
      .join(rels, col("treeId") === col("rTree") && col("parentId") === col("rNode"))
    members.filter(col("gName") === left)
      .select(col("rTree"), col("rNode"), col("oid").as("leftOid"))
      .join(
        members.filter(col("gName") === right)
          .select(col("rTree").as("t2"), col("rNode").as("n2"), col("oid").as("rightOid")),
        col("rTree") === col("t2") && col("rNode") === col("n2"))
      .select("leftOid", "rightOid")
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

  /** A table held on the driver: column names and string rows. */
  private final case class LocalTable(columns: Vector[String], rows: Vector[Vector[String]])

  /** Spark's order on strings (UTF-8 bytes), which `max` and `min` use. */
  private val SparkStringOrder: Ordering[String] =
    Ordering.by[String, UTF8String](UTF8String.fromString)(Ordering.fromLessThan(_.compareTo(_) < 0))

  /** The export on the driver, step for step the distributed one, over
    * the pruned rows of [[export]] in its column order:
    *   - a group table has one row per oid (null included) of an
    *     instance with at least one ENT child; its columns are the sorted
    *     entity names under all its instances, each the max value;
    *   - a BOTH relation is the distinct (left oid, right oid) pairs of
    *     its REL instances;
    *   - a LEFT or RIGHT relation appends the min target oid per source
    *     oid to the source's table.
    * The tables become local DataFrames and are cast by the same query
    * as the distributed tables, over their distinct cells.
    */
  private def exportLocal(spark: SparkSession, rows: Array[Row], schema: Schema): Export = {
    val kids = rows.groupBy(r => (r.getLong(0), r.getInt(2)))
    def childrenOf(r: Row, nodeType: String): Seq[Row] =
      kids.getOrElse((r.getLong(0), r.getInt(1)), Array.empty[Row]).toSeq.filter(_.getString(3) == nodeType)
    def maxOf(a: String, b: String): String =
      if (a == null) b else if (b == null) a else SparkStringOrder.max(a, b)
    def minOf(a: String, b: String): String =
      if (a == null) b else if (b == null) a else SparkStringOrder.min(a, b)

    // (group, oid, entity, value) per ENT child of a group instance
    val groupNames = schema.groups.map(_.name)
    val groupEnts = rows.iterator
      .filter(r => r.getString(3) == "GROUP" && groupNames(r.getString(4)))
      .flatMap(g => childrenOf(g, "ENT")
        .map(e => (g.getString(4), Option(g.getString(6)), e.getString(4), e.getString(5))))
      .toVector.groupBy(_._1)
    val tables = scala.collection.mutable.Map.empty[String, LocalTable]
    schema.groups.foreach { g =>
      val ents = groupEnts.getOrElse(g.name, Vector.empty)
      val cols = ents.map(_._3).distinct.sorted
      tables(g.name) = LocalTable(pkColumn(g.name) +: cols, ents.groupBy(_._2).toVector.map { case (oid, es) =>
        val values = es.groupMapReduce(_._3)(_._4)(maxOf)
        oid.orNull +: cols.map(values.getOrElse(_, null))
      })
    }

    schema.relations.foreach { rel =>
      val pairs = rows.iterator
        .filter(r => r.getString(3) == "REL" && r.getString(4) == rel.name)
        .flatMap { r =>
          val members = childrenOf(r, "GROUP")
          for {
            l <- members if l.getString(4) == rel.left
            rr <- members if rr.getString(4) == rel.right
          } yield (l.getString(6), rr.getString(6))
        }.toVector
      rel.orientation match {
        case RelationOrientation.Both =>
          tables(rel.name) = LocalTable(Vector(pkColumn(rel.left), pkColumn(rel.right)),
            pairs.distinct.map { case (l, r) => Vector(l, r) })
        case _ =>
          val (srcName, fkName, srcIsLeft) = fkOf(rel)
          val fk = (if (srcIsLeft) pairs else pairs.map(_.swap)).filter(_._1 != null)
            .groupMapReduce(_._1)(_._2)(minOf)
          val t = tables(srcName)
          tables(srcName) = LocalTable(t.columns :+ fkName, t.rows.map(row => row :+ fk.getOrElse(row.head, null)))
      }
    }

    val frames = tables.toMap.map { case (name, t) =>
      name -> spark.createDataFrame(t.rows.map(Row.fromSeq).asJava,
        StructType(t.columns.map(StructField(_, StringType))))
    }
    val distinctCells = for {
      (name, t) <- tables.toSeq
      (c, i) <- t.columns.zipWithIndex if !isPk(c)
      v <- t.rows.map(_(i)).distinct
    } yield Row(name, c, v)
    val casts = inferCasts(Option.when(distinctCells.nonEmpty)(spark.createDataFrame(distinctCells.asJava,
      StructType(Seq("table", "column", "value").map(StructField(_, StringType))))).toSeq)
    val casted = frames.map { case (name, df) => name -> applyCasts(name, df, casts) }
    Export(casted, ddlFor(schema, casted))
  }

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
  private def isPk(column: String): Boolean = column.startsWith("architxt_")

  /** `df`'s `valueCols` in long form: one (table, column, value) row per
    * cell, the value as a string.
    */
  private def cells(table: String, df: DataFrame, valueCols: Seq[String]): DataFrame =
    df.select(explode(array(valueCols.map(c =>
        struct(lit(table).as("table"), lit(c).as("column"), col(c).cast("string").as("value"))): _*))
      .as("cell"))
      .select("cell.*")

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
