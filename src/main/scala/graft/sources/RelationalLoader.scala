package graft.sources

import graft.core._
import graft.model.{Forest, TreeRow}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Foreign-key edge: `column` of the owning table references
  * `refTable.refColumn`.
  */
final case class Fk(column: String, refTable: String, refColumn: String)

/** Static description of one table. Column list is inferred from the data
  * source at load time; only keys must be declared.
  */
final case class TableDef(name: String, pks: Seq[String], fks: Seq[Fk])

/** Database description for the loader — the information the reference
  * obtains from SQLAlchemy reflection (database/loader/sql.py:34-36).
  */
final case class DbConfig(namespace: String, tables: Seq[TableDef]) {
  def table(name: String): TableDef = tables.find(_.name == name).get

  /** Tables not referenced by any FK, plus one designated root per FK
    * cycle (the cycle member with the most FKs) — reference semantics at
    * database/loader/sql.py:51-102.
    */
  def rootTables: Seq[TableDef] = {
    val referenced = tables.flatMap(_.fks.map(_.refTable)).toSet
    val roots = tables.filterNot(t => referenced.contains(t.name))
    (roots ++ cycleRoots.map(table)).distinctBy(_.name)
  }

  private def cycleRoots: Seq[String] = {
    def findCycle(name: String, path: Set[String]): Set[String] =
      if (path.contains(name)) path
      else
        table(name).fks.iterator
          .map(fk => findCycle(fk.refTable, path + name))
          .find(_.nonEmpty)
          .getOrElse(Set.empty)

    val referenced = tables.flatMap(_.fks.map(_.refTable)).toSet
    val pending = mutable.Set.from(referenced)
    val out = mutable.ListBuffer.empty[String]
    while (pending.nonEmpty) {
      val t = pending.head; pending.remove(t)
      val cycle = findCycle(t, Set.empty)
      if (cycle.nonEmpty) {
        pending --= cycle
        out += cycle.maxBy(n => table(n).fks.size)
      }
    }
    out.toSeq
  }
}

/** Join-based `read_sql` equivalent (reference
  * database/loader/sql.py:18-417): reads every table once, walks the FK
  * graph with the reference's visited-edge semantics, and constructs one
  * metamodel tree per root-table row — `ROOT` over a flat list of
  * `GROUP::<table>` and `REL::<a><->(b)` nodes.
  *
  * Spark-first re-expression: the reference's per-row recursive SELECTs
  * (an N+1 pattern, sql.py:266-304) become one left join per FK edge
  * occurrence; the root rows are spread once before the joins, Catalyst
  * broadcasts the small dimension sides, and the per-root-row tree
  * assembly is a single shuffle-free `map` over the joined wide row.
  * Scales to arbitrarily large fact tables: no driver-side iteration, no
  * collect.
  */
object RelationalLoader {

  /** One occurrence of a table in the traversal (the same table can occur
    * multiple times via different FK paths, e.g. nation via customer and
    * via supplier).
    */
  private final case class Occ(table: TableDef, alias: String, fks: Seq[(Fk, Occ)])

  /** Mirror of parse_table's traversal (sql.py:234-264): FKs sorted by
    * column name, each FK edge visited at most once per root tree (shared
    * visited set across the whole traversal).
    */
  private def buildPlan(root: TableDef, cfg: DbConfig): Occ = {
    val visited = mutable.Set.empty[(String, String)] // (table, fkColumn)
    var n = 0
    def go(t: TableDef): Occ = {
      val alias = s"t${n}_${t.name}"; n += 1
      val children = t.fks.sortBy(_.column).flatMap { fk =>
        if (visited.add((t.name, fk.column))) Some(fk -> go(cfg.table(fk.refTable)))
        else None
      }
      Occ(t, alias, children)
    }
    go(root)
  }

  private def allOccs(o: Occ): Seq[Occ] = o +: o.fks.flatMap(c => allOccs(c._2))

  /** Association table: exactly 2 columns, both PK and FK
    * (sql.py:105-112).
    */
  def isAssociation(t: TableDef, columnCount: Int): Boolean =
    t.fks.size == 2 && t.pks.size == 2 && columnCount == 2

  /** Load the forest for every root table of `cfg` from parquet files at
    * `dir/<table>.parquet`.
    *
    * @param sample if > 0, limit each root table to `sample` rows
    *               (sql.py:140-143).
    */
  def load(
      spark: SparkSession,
      dir: String,
      cfg: DbConfig,
      sample: Int = 0,
      simplifyAssociation: Boolean = true,
      searchAllInstances: Boolean = false,
  ): Dataset[TreeRow] = {
    val raw: Map[String, DataFrame] =
      cfg.tables.map(t => t.name -> spark.read.parquet(s"$dir/${t.name}.parquet")).toMap
    loadFrom(spark, raw, cfg, sample, simplifyAssociation, searchAllInstances)
  }

  /** Partitioned-read spec for one table of [[loadJdbc]] — maps onto
    * `spark.read.jdbc`'s range partitioning so a big fact table is read
    * by `numPartitions` executors in parallel instead of one connection
    * streaming the whole table through the driver-side of the scan.
    */
  final case class JdbcPartitioning(
      column: String, lowerBound: Long, upperBound: Long, numPartitions: Int)

  /** Load the forest directly from a LIVE relational database over
    * JDBC — the reference's engine-reflection ingestion
    * (database/loader/sql.py:18-48) with the `DbConfig` either
    * hand-declared or reflected from the same catalog via
    * [[JdbcCatalog.reflect]]. Everything downstream of the per-table
    * scan is the one shared [[loadFrom]] path, so parquet snapshots and
    * live databases produce identical forests over identical rows.
    *
    * @param partitioning per-table parallel-read ranges; tables absent
    *                     from the map are read through a single
    *                     partition (fine for dimensions, wrong for a
    *                     100 TB fact table — declare its range).
    * @param dbtable      physical table expression per logical name
    *                     (e.g. quoting for engines that upper-case
    *                     unquoted identifiers, or `schema.table`
    *                     prefixes); the LOGICAL name still labels the
    *                     metamodel nodes.
    */
  def loadJdbc(
      spark: SparkSession,
      url: String,
      cfg: DbConfig,
      props: java.util.Properties = new java.util.Properties(),
      partitioning: Map[String, JdbcPartitioning] = Map.empty,
      dbtable: String => String = identity,
      sample: Int = 0,
      simplifyAssociation: Boolean = true,
      searchAllInstances: Boolean = false,
  ): Dataset[TreeRow] = {
    val raw: Map[String, DataFrame] = cfg.tables.map { t =>
      val df = partitioning.get(t.name) match {
        case Some(p) =>
          spark.read.jdbc(url, dbtable(t.name),
            p.column, p.lowerBound, p.upperBound, p.numPartitions, props)
        case None => spark.read.jdbc(url, dbtable(t.name), props)
      }
      t.name -> df
    }.toMap
    loadFrom(spark, raw, cfg, sample, simplifyAssociation, searchAllInstances)
  }

  /** Same, over already-loaded DataFrames (tests, alternative sources). */
  def loadFrom(
      spark: SparkSession,
      raw: Map[String, DataFrame],
      cfg: DbConfig,
      sample: Int = 0,
      simplifyAssociation: Boolean = true,
      searchAllInstances: Boolean = false,
  ): Dataset[TreeRow] = {
    import spark.implicits._

    // Original column types survive as entity metadata for cast-on-export;
    // all values are stringified at the scan, matching the reference's
    // str(entity_data) contract (sql.py:336).
    val colTypes: Map[String, Map[String, String]] =
      raw.map { case (n, df) => n -> df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap }
    val columns: Map[String, Seq[String]] = raw.map { case (n, df) => n -> df.columns.toSeq }
    val tables: Map[String, DataFrame] = raw.map { case (n, df) =>
      n -> df.select(df.columns.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
    }

    // Every per-root (and per-unreferenced-scan) forest gets a distinct
    // salt so tree ids are globally unique — one tree per SOURCE ROW, as
    // in the reference's row iteration. Deriving tree identity from the
    // root oid instead would merge two rows that collide on their
    // (possibly non-unique) declared pk into one treeId, corrupting
    // per-tree grouping downstream.
    var salt = -1L
    def nextSalt(): Long = { salt += 1; salt }

    val forests = cfg.rootTables.map { root =>
      val rootForest =
        if (simplifyAssociation && isAssociation(root, columns(root.name).size))
          loadAssociationRoot(spark, tables, columns, colTypes, cfg, root, sample, nextSalt())
        else
          loadRoot(spark, tables, columns, colTypes, cfg, root, sample, nextSalt())

      val extra =
        if (!searchAllInstances) Seq.empty
        else unreferencedForests(spark, tables, columns, colTypes, cfg, root, sample, nextSalt)

      extra.foldLeft(rootForest)(_ union _)
    }

    forests.reduceOption(_ union _).getOrElse(spark.emptyDataset[TreeRow])
  }

  /** Spread root rows over at least the session's parallelism before the
    * joins. A root table read as one parquet split (or one JDBC partition)
    * would otherwise pin the tree assembly and every per-tree map stage of
    * every consumer (parse, rewrite epochs, candidate extraction, node
    * flattens) to a single core. The exchange moves only the pre-join
    * root rows; broadcast dimension joins keep its layout.
    */
  private def spread(df: DataFrame): DataFrame = {
    val para = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= para) df else df.repartition(para)
  }

  /** Globally-unique tree id: forest salt (6 bits), partition (22
    * bits — 4.1M partitions covers 100 TB at 32 MB splits), then
    * row-in-partition (35 bits). The ranges are ENFORCED — a silent
    * field overflow would merge unrelated trees downstream, so out of
    * range fails the task instead.
    *
    * Partition and row are positions of the joined root row after
    * [[spread]], so a root read in fewer splits than the session's
    * parallelism gets ids from the spread layout, not from its scan.
    * Ids are assignment-stable only within one materialization of the
    * load: they are positional, so callers that run multiple actions
    * over the same lazy forest must persist/checkpoint it first (the
    * query registry eagerly localCheckpoints; `graft.util.Spark.checkpoint`
    * is the cluster-reliable variant). One tree per source ROW is the
    * reference's identity contract — a content-derived id would merge
    * rows colliding on a non-unique declared pk.
    */
  private[graft] def treeId(salt: Long, partition: Int, index: Long): Long = {
    require(salt >= 0 && salt < (1L << 6), s"forest salt out of range: $salt")
    require(partition >= 0 && partition < (1 << 22), s"partition out of range: $partition")
    require(index >= 0 && index < (1L << 35), s"row index out of range: $index")
    (salt << 57) | (partition.toLong << 35) | index
  }

  /** One forest Dataset for a (non-association) root table. */
  private def loadRoot(
      spark: SparkSession,
      tables: Map[String, DataFrame],
      columns: Map[String, Seq[String]],
      colTypes: Map[String, Map[String, String]],
      cfg: DbConfig,
      root: TableDef,
      sample: Int,
      salt: Long,
  ): Dataset[TreeRow] = {
    val plan = buildPlan(root, cfg)
    val limited = if (sample > 0) tables(root.name).limit(sample) else tables(root.name)
    val wide = joinPlan(limited, plan, tables, columns)
    assemble(spark, wide, plan, columns, colTypes, cfg.namespace, salt)
  }

  /** Association root with simplify_association (sql.py:188-231): the
    * association row becomes a single REL between the two referenced
    * rows, followed by both sides' normal traversals (shared visited set).
    */
  private def loadAssociationRoot(
      spark: SparkSession,
      tables: Map[String, DataFrame],
      columns: Map[String, Seq[String]],
      colTypes: Map[String, Map[String, String]],
      cfg: DbConfig,
      root: TableDef,
      sample: Int,
      salt: Long,
  ): Dataset[TreeRow] = {
    val Seq(leftFk, rightFk) = root.fks.sortBy(_.column)

    // Shared visited set across both side traversals (sql.py:227-231).
    val visited = mutable.Set.empty[(String, String)]
    var n = 0
    def go(t: TableDef): Occ = {
      val alias = s"t${n}_${t.name}"; n += 1
      val children = t.fks.sortBy(_.column).flatMap { fk =>
        if (visited.add((t.name, fk.column))) Some(fk -> go(cfg.table(fk.refTable)))
        else None
      }
      Occ(t, alias, children)
    }
    val leftPlan = go(cfg.table(leftFk.refTable))
    val rightPlan = go(cfg.table(rightFk.refTable))

    val limited = if (sample > 0) tables(root.name).limit(sample) else tables(root.name)
    val assoc = spread(limited.select(columns(root.name).map(c => col(c).as(s"assoc__$c")).toIndexedSeq: _*))
    var wide = assoc.join(
      prefixed(tables(leftPlan.table.name), leftPlan.alias, columns),
      col(s"assoc__${leftFk.column}") === col(s"${leftPlan.alias}__${leftFk.refColumn}"), "left")
    wide = leftPlan.fks.foldLeft(wide) { case (df, (fk, child)) => attach(df, leftPlan.alias, fk, child, tables, columns) }
    wide = wide.join(
      prefixed(tables(rightPlan.table.name), rightPlan.alias, columns),
      col(s"assoc__${rightFk.column}") === col(s"${rightPlan.alias}__${rightFk.refColumn}"), "left")
    wide = rightPlan.fks.foldLeft(wide) { case (df, (fk, child)) => attach(df, rightPlan.alias, fk, child, tables, columns) }

    val idx = wide.schema.fieldNames.zipWithIndex.toMap
    val ns = cfg.namespace
    val assocName = root.name.replace(' ', '_')
    val leftTable = leftPlan.table
    val rightTable = rightPlan.table
    val cols = columns
    val types = colTypes
    val lp = leftPlan
    val rp = rightPlan

    val rdd = wide.rdd.mapPartitionsWithIndex { (pid, it) =>
      it.zipWithIndex.map { case (row, i) =>
        val get = (field: String) => { val j = idx(field); if (row.isNullAt(j)) null else row.getString(j) }
        val leftGroup = buildGroup(lp, get, cols, types, ns)
        val rightGroup = buildGroup(rp, get, cols, types, ns)
        val relOid = {
          val pkData =
            leftTable.pks.map(c => s"left_$c" -> get(s"${lp.alias}__$c")) ++
              rightTable.pks.map(c => s"right_$c" -> get(s"${rp.alias}__$c"))
          oid(ns, assocName, pkData.toMap)
        }
        val rel = ArchiTree(Typed(NodeType.Rel, assocName), Vector(Child.Node(leftGroup), Child.Node(rightGroup)), relOid)
        val children = Vector(Child.Node(rel), Child.Node(leftGroup)) ++
          relChildren(lp, leftGroup, get, cols, types, ns) ++
          (Child.Node(rightGroup) +: relChildren(rp, rightGroup, get, cols, types, ns))
        val tree = ArchiTree(Plain("ROOT"), children)
        TreeRow(treeId(salt, pid, i.toLong), tree)
      }
    }
    spark.createDataset(rdd)(org.apache.spark.sql.Encoders.product[TreeRow])
  }

  /** search_all_instances support (sql.py:149-185): rows of referenced
    * tables that no referencing row points at, found with an anti-join
    * instead of the reference's per-row NOT EXISTS scan.
    */
  private def unreferencedForests(
      spark: SparkSession,
      tables: Map[String, DataFrame],
      columns: Map[String, Seq[String]],
      colTypes: Map[String, Map[String, String]],
      cfg: DbConfig,
      root: TableDef,
      sample: Int,
      nextSalt: () => Long,
  ): Seq[Dataset[TreeRow]] = {
    val rootNames = cfg.rootTables.map(_.name).toSet
    val visited = mutable.Set.empty[(String, String)]
    val out = mutable.ListBuffer.empty[Dataset[TreeRow]]

    def walk(t: TableDef): Unit =
      t.fks.sortBy(_.column).foreach { fk =>
        if (visited.add((t.name, fk.column))) {
          val target = cfg.table(fk.refTable)
          if (!rootNames.contains(target.name)) {
            val unref = tables(target.name).join(
              tables(t.name).select(col(fk.column).as("__ref")),
              col(fk.refColumn) === col("__ref"), "left_anti")
            val limited = if (sample > 0) unref.limit(sample) else unref
            val plan = buildPlan(target, cfg)
            val wide = joinPlan(limited, plan, tables, columns)
            out += assemble(spark, wide, plan, columns, colTypes, cfg.namespace, nextSalt())
          }
          walk(target)
        }
      }

    walk(root)
    out.toSeq
  }

  private def prefixed(df: DataFrame, alias: String, columns: Map[String, Seq[String]]): DataFrame =
    df.select(df.columns.map(c => col(c).as(s"${alias}__$c")).toIndexedSeq: _*)

  private def attach(
      df: DataFrame,
      parentAlias: String,
      fk: Fk,
      child: Occ,
      tables: Map[String, DataFrame],
      columns: Map[String, Seq[String]],
  ): DataFrame = {
    val joined = df.join(
      prefixed(tables(child.table.name), child.alias, columns),
      col(s"${parentAlias}__${fk.column}") === col(s"${child.alias}__${fk.refColumn}"),
      "left")
    child.fks.foldLeft(joined) { case (d, (f, c)) => attach(d, child.alias, f, c, tables, columns) }
  }

  private def joinPlan(
      rootDf: DataFrame,
      plan: Occ,
      tables: Map[String, DataFrame],
      columns: Map[String, Seq[String]],
  ): DataFrame = {
    val base = spread(prefixed(rootDf, plan.alias, columns))
    plan.fks.foldLeft(base) { case (df, (fk, child)) => attach(df, plan.alias, fk, child, tables, columns) }
  }

  /** Turn the joined wide rows into trees — one shuffle-free map. */
  private def assemble(
      spark: SparkSession,
      wide: DataFrame,
      plan: Occ,
      columns: Map[String, Seq[String]],
      colTypes: Map[String, Map[String, String]],
      namespace: String,
      salt: Long,
  ): Dataset[TreeRow] = {
    val idx = wide.schema.fieldNames.zipWithIndex.toMap
    val cols = columns
    val types = colTypes
    val ns = namespace
    val p = plan
    val rdd = wide.rdd.mapPartitionsWithIndex { (pid, it) =>
      it.zipWithIndex.map { case (row, i) =>
        val get = (field: String) => { val j = idx(field); if (row.isNullAt(j)) null else row.getString(j) }
        val rootGroup = buildGroup(p, get, cols, types, ns)
        val children = Vector(Child.Node(rootGroup)) ++ relChildren(p, rootGroup, get, cols, types, ns)
        val tree = ArchiTree(Plain("ROOT"), children)
        TreeRow(treeId(salt, pid, i.toLong), tree)
      }
    }
    spark.createDataset(rdd)(org.apache.spark.sql.Encoders.product[TreeRow])
  }

  /** The children parse_table emits after a group (sql.py:234-304): per
    * FK, the REL over both groups, then the child's group and its own
    * walk. A child row "exists" iff any of its PK columns survived the
    * left join non-null.
    */
  private def relChildren(
      occ: Occ,
      group: ArchiTree,
      get: String => String,
      columns: Map[String, Seq[String]],
      colTypes: Map[String, Map[String, String]],
      ns: String,
  ): Vector[Child] =
    occ.fks.toVector.flatMap { case (fk, child) =>
      val exists = child.table.pks.exists(c => get(s"${child.alias}__$c") != null)
      if (!exists) Vector.empty
      else {
        val childGroup = buildGroup(child, get, columns, colTypes, ns)
        val relName = s"${occ.table.name.replace(' ', '_')}<->${child.table.name.replace(' ', '_')}"
        val pkData =
          occ.table.pks.map(c => s"left_$c" -> get(s"${occ.alias}__$c")) ++
            child.table.pks.map(c => s"right_$c" -> get(s"${child.alias}__$c"))
        val rel = ArchiTree(
          Typed(NodeType.Rel, relName),
          Vector(Child.Node(group), Child.Node(childGroup)),
          oid(ns, relName, pkData.toMap),
          Map("source" -> occ.table.name, "target" -> child.table.name, "source_column" -> fk.column))
        Vector(Child.Node(rel), Child.Node(childGroup)) ++
          relChildren(child, childGroup, get, columns, colTypes, ns)
      }
    }

  /** build_group (sql.py:307-351): ENT per non-FK, non-null column; FK
    * source columns never become entities; PK values feed the oid.
    */
  private def buildGroup(
      occ: Occ,
      get: String => String,
      columns: Map[String, Seq[String]],
      colTypes: Map[String, Map[String, String]],
      ns: String,
  ): ArchiTree = {
    val t = occ.table
    val fkCols = t.fks.map(_.column).toSet
    val groupName = t.name.replace(' ', '_')
    val ents = columns(t.name).iterator.flatMap { c =>
      val v = get(s"${occ.alias}__$c")
      if (v == null || fkCols.contains(c)) None
      else
        Some(Child.Node(ArchiTree(
          Typed(NodeType.Ent, c.replace(' ', '_')),
          Vector(Child.Leaf(v)),
          metadata = Map("type" -> colTypes(t.name)(c)))))
    }.toVector
    val pkData = t.pks.map(c => c -> get(s"${occ.alias}__$c")).toMap
    ArchiTree(
      Typed(NodeType.Group, groupName),
      ents,
      oid(ns, groupName, pkData),
      Map("primary_keys" -> t.pks.sorted.mkString(",")))
  }

  /** get_oid (sql.py:399-417): namespace → name → sorted "k=v" pk data,
    * re-expressed with the repo's sha1-based deterministic oid.
    */
  private def oid(ns: String, name: String, data: Map[String, String]): String = {
    val dataStr = data.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";")
    ArchiTree.deterministicOid(ns, name, dataStr)
  }

  /** Dataset-extraction pushdown: `Schema.extractDataset(loadNodes(cfg),
    * g)` ≡ the DISTINCT non-FK-column projection of table g's rows that
    * are reachable from any root row along the FK traversal — because (a)
    * every GROUP::g occurrence in a loader forest is one reachable row of
    * g, (b) occurrences sharing pk values share the deterministic oid and
    * carry identical entity values (the oid-dedup step), and (c) the
    * final value-level dropDuplicates is the DISTINCT.
    *
    * This is the 100 TB path: a logical-plan rewrite that never
    * materializes the node view (74M rows at sf0.1 for the tpch star —
    * its cache build alone costs ~5 minutes on 32 cores), turning
    * extraction into FK-path joins Catalyst can optimize end to end
    * (column pruning to the parquet scan, broadcast dims, AQE).
    * Equivalence to the generic path is pinned by a differential test
    * (RelationalLoaderSpec) and by the driver's DuckDB oracle.
    */
  def extractGroupDataset(
      spark: SparkSession,
      dir: String,
      cfg: DbConfig,
      groupName: String,
  ): DataFrame = {
    val raw: Map[String, DataFrame] =
      cfg.tables.map(t => t.name -> spark.read.parquet(s"$dir/${t.name}.parquet")).toMap
    val columns: Map[String, Seq[String]] = raw.map { case (n, df) => n -> df.columns.toSeq }

    // association roots take the two-sided tree shape the path walk below
    // doesn't model — fall back to the generic metamodel path there
    if (cfg.rootTables.exists(root => isAssociation(root, columns(root.name).size)))
      return graft.model.Schema.extractDataset(loadNodes(spark, dir, cfg), groupName)

    // All occurrences of the group's table across every root plan, each
    // with its FK-edge path from the root.
    def paths(o: Occ, prefix: Seq[(Occ, Fk, Occ)]): Seq[Seq[(Occ, Fk, Occ)]] = {
      val here = if (o.table.name == groupName) Seq(prefix) else Seq.empty
      here ++ o.fks.flatMap { case (fk, child) => paths(child, prefix :+ ((o, fk, child))) }
    }
    val occPaths = cfg.rootTables.flatMap { root =>
      val plan = buildPlan(root, cfg)
      paths(plan, Seq.empty).map(root -> _)
    }
    require(occPaths.nonEmpty, s"group $groupName does not occur in the traversal of ${cfg.namespace}")

    val t = cfg.table(groupName)
    val fkCols = t.fks.map(_.column).toSet
    val entCols = columns(groupName).filterNot(fkCols.contains).sorted

    val reachable: Seq[DataFrame] = occPaths.map { case (root, path) =>
      if (path.isEmpty) raw(root.name)
      else {
        // walk root → ... → g keeping only the join keys until the last
        // hop, so Catalyst prunes every intermediate scan to its key
        // columns; rows with a null FK don't reach the child (inner join
        // ≡ the left-join + pk-non-null existence probe of the tree walk)
        val (_, firstFk, _) = path.head
        var keys = raw(root.name).select(col(firstFk.column).as("__k"))
        path.init.zipWithIndex.foreach { case ((_, fk, child), i) =>
          val nextFk = path(i + 1)._2
          keys = keys.join(
            raw(child.table.name).select(
              col(fk.refColumn).as("__pk"), col(nextFk.column).as("__nk")),
            col("__k") === col("__pk"))
            .select(col("__nk").as("__k"))
        }
        val (_, lastFk, _) = path.last
        raw(groupName).join(
          keys.distinct(), col(lastFk.refColumn) === col("__k"), "left_semi")
      }
    }

    // Column-name parity with the generic path: buildGroup underscores
    // entity names (`c.replace(' ', '_')`).
    val projected = reachable
      .map(_.select(entCols.map(c => col(c).cast("string").as(c.replace(' ', '_'))): _*))
      .reduce(_ union _)

    // All-null-column parity: the generic path's pivot only has columns
    // for entities OBSERVED non-null somewhere (buildGroup skips null
    // values), so drop columns that are null across every reachable row.
    // One cheap aggregate over the projection — no extra source scan.
    val presence = projected
      .select(projected.columns.map(c => count(col(c)).as(c)).toIndexedSeq: _*)
      .head
    val observed = projected.columns.filter(c => presence.getAs[Long](c) > 0L)

    projected.select(observed.map(col).toIndexedSeq: _*).distinct()
  }

  /** The node view of [[load]]: one `NodeRow` per tree node, the
    * flatten of the loaded forest (SURVEY §7.1).
    */
  def loadNodes(spark: SparkSession, dir: String, cfg: DbConfig, sample: Int = 0): Dataset[graft.model.NodeRow] =
    Forest.toNodesDF(load(spark, dir, cfg, sample))
}
