package graft.queries

import graft.model.{Forest, Schema}
import graft.queries.Lane.castCols
import org.apache.spark.sql.SparkSession

/** Paper pipeline, source stage: the document, JDBC, Cypher and BRAT
  * readers, and the corpus NLP parse (regex NER, coordination
  * enrichment, the MLlib tagger and chunker).
  */
object PaperSourceLanes {

  /** Memoized MLlib tagger model (nlp/MlTagger.scala) — a real
    * LBFGS-trained multinomial logistic regression, trained once per
    * session (deterministic fixture, zero-init) and scored locally on
    * executors. A real pipeline trains once and scores many shards, so
    * the registry does too.
    */
  private def mlTagModel(s: SparkSession): graft.nlp.MlTagModel =
    Memo("mlTagModel")(graft.nlp.MlTagger.train(s))

  /** The MlTagger dictionary as a SQL VALUES list — generated from the
    * same Scala constant the model trains on, so the two sides cannot
    * drift.
    */
  private def mlDictValues: String =
    graft.nlp.MlTagger.Dictionary.map { case (w, t) => s"('$w','$t')" }.mkString(", ")

  /** Deterministic BRAT (txt, ann) fixture for one document: 7 words per
    * line, every 5th word an entity (pers/freq/moment cycle), chained
    * relations alternating likes/incertain_rel — pure arithmetic in the
    * word sequence so the DuckDB oracle recomputes the counts.
    */
  private def bratFixture(raw: String): (String, String) = {
    val text = raw.trim.replaceAll(" +", " ") // both engines normalize identically
    val words = text.split(" ", -1)
    val starts = words.scanLeft(0)((acc, w) => acc + w.length + 1)
    val txt = words.zipWithIndex.map { case (w, i) =>
      val sep = if (i == words.length - 1) "" else if ((i + 1) % 7 == 0) "\n" else " "
      w + sep
    }.mkString
    val nEnt = (words.length + 4) / 5
    val entLines = (0 until nEnt).map { j =>
      val w = 5 * j
      val tpe = Seq("pers", "freq", "moment")(j % 3)
      s"T${j + 1}\t$tpe ${starts(w)} ${starts(w) + words(w).length}\t${words(w)}"
    }
    val relLines = (0 until nEnt - 1).map { j =>
      val tpe = if (j % 2 == 0) "likes" else "incertain_rel"
      s"R${j + 1}\t$tpe Arg1:T${j + 1} Arg2:T${j + 2}"
    }
    (txt, (entLines ++ relLines).mkString("\n"))
  }

  /** Parse one fixture document under the FREQUENCE filter/mapping and
    * aggregate to the per-doc count row both brat lanes emit.
    */
  private def bratCounts(id: Long, txt: String, ann: String): (Long, Long, Long, Long) = {
    import graft.nlp.Brat
    val (es, rs) = Brat.parseAnn(ann)
    val sentences = Brat.convertExample(Brat.Example(txt, es, rs),
      entitiesFilter = Set("FREQUENCE"),
      entitiesMapping = Map("FREQ" -> "FREQUENCE"))
    (id, sentences.size.toLong,
      sentences.map(_.entities.size.toLong).sum,
      sentences.map(_.rels.size.toLong).sum)
  }

  /** Closed-form recomputation of the BRAT fixture's per-doc counts —
    * shared by the directory and archive lanes (the container must not
    * change the parse).
    */
  private lazy val bratCountsOracle: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    (len(string_split(trim(regexp_replace(text, ' +', ' ', 'g')), ' ')) + 4) // 5 AS n_ent
      |  FROM documents),
      |js AS (
      |  SELECT doc_id, n_ent, unnest(range(n_ent)) AS j FROM docs),
      |kept AS (
      |  SELECT doc_id, j, (5 * j) // 7 AS sent FROM js WHERE j % 3 <> 1),
      |rels AS (
      |  SELECT doc_id FROM js
      |  WHERE j % 6 = 2 AND j + 1 < n_ent AND (5 * j) // 7 = (5 * j + 5) // 7)
      |SELECT d.doc_id,
      |  CAST(coalesce(s.n_sent, 0) AS BIGINT) AS n_sentences,
      |  CAST(coalesce(s.n_ent_kept, 0) AS BIGINT) AS n_entities,
      |  CAST(coalesce(r.n_rel, 0) AS BIGINT) AS n_relations
      |FROM docs d
      |LEFT JOIN (SELECT doc_id, count(DISTINCT sent) AS n_sent, count(*) AS n_ent_kept
      |           FROM kept GROUP BY 1) s USING (doc_id)
      |LEFT JOIN (SELECT doc_id, count(*) AS n_rel FROM rels GROUP BY 1) r USING (doc_id)""".stripMargin

  val lanes: Seq[Lane] = Seq(
    // §2.1 read_document: every events.props JSON document → metamodel
    // forest → dataset of the single discovered group
    Lane("read_document_props", (s, d) => {
      import s.implicits._
      // tolerate either ts encoding the driver has shipped (NANOS needs
      // nanosAsLong just to open the file; only `props` is read here)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val props = s.read.parquet(s"$d/events.parquet").select("props").as[String]
      val forest = graft.sources.DocumentLoader.parseDocuments(props)(
        graft.sources.DocumentLoader.fromJsonString)
      Schema.extractDataset(Forest.toNodesDF(forest), "root")
    },
      "SELECT DISTINCT CAST(props::JSON->>'k' AS VARCHAR) AS k FROM events"),
    // §2.1 read_document XML lane: every customer row rendered as an XML
    // document, parsed through the xmltodict-convention reader into the
    // metamodel, then extracted back — a full round trip certified by
    // the same oracle as the relational extraction
    Lane("read_document_xml", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, concat, lit}
      val xml = s.read.parquet(s"$d/customer.parquet")
        .select(concat(
          lit("<customer>"),
          lit("<c_acctbal>"), col("c_acctbal").cast("string"), lit("</c_acctbal>"),
          lit("<c_custkey>"), col("c_custkey").cast("string"), lit("</c_custkey>"),
          lit("<c_mktsegment>"), col("c_mktsegment"), lit("</c_mktsegment>"),
          lit("<c_name>"), col("c_name"), lit("</c_name>"),
          lit("</customer>")).as("doc")).as[String]
      val forest = graft.sources.DocumentLoader.parseDocuments(xml)(
        graft.sources.DocumentLoader.fromXmlString)
      Schema.extractDataset(Forest.toNodesDF(forest), "customer")
    },
      s"SELECT DISTINCT ${castCols(Seq("c_acctbal", "c_custkey", "c_mktsegment", "c_name"))} FROM customer"),
    // §2.1 read_document YAML lane (nation table; the multi-doc list
    // wrapping is exercised by every document)
    Lane("read_document_yaml", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, concat, lit}
      val yaml = s.read.parquet(s"$d/nation.parquet")
        .select(concat(
          lit("nation:\n  n_name: "), col("n_name"),
          lit("\n  n_nationkey: "), col("n_nationkey").cast("string")).as("doc")).as[String]
      val forest = graft.sources.DocumentLoader.parseDocuments(yaml)(
        graft.sources.DocumentLoader.fromYamlString)
      Schema.extractDataset(Forest.toNodesDF(forest), "nation")
    },
      s"SELECT DISTINCT ${castCols(Seq("n_name", "n_nationkey"))} FROM nation"),
    // §2.1 read_document TOML lane (region table), through the format
    // sniffing chain rather than the direct parser
    Lane("read_document_toml", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, concat, lit}
      val toml = s.read.parquet(s"$d/region.parquet")
        .select(concat(
          lit("[region]\nr_name = \""), col("r_name"),
          lit("\"\nr_regionkey = "), col("r_regionkey").cast("string")).as("doc")).as[String]
      val forest = graft.sources.DocumentLoader.parseDocuments(toml)(
        graft.sources.DocumentLoader.fromString)
      Schema.extractDataset(Forest.toNodesDF(forest), "region")
    },
      s"SELECT DISTINCT ${castCols(Seq("r_name", "r_regionkey"))} FROM region"),
    // §2.1 read_sql against a LIVE database: the customer tables are
    // copied into an embedded Derby instance, the DbConfig is REFLECTED
    // from the JDBC catalog (no hand declaration), and the forest is
    // loaded over spark.read.jdbc — then extracted back under the same
    // oracle as the parquet-path extraction. Fresh in-memory db name
    // per invocation keeps the lane idempotent across memoized reruns.
    Lane("read_jdbc_customer", (s, d) => {
      import org.apache.spark.sql.functions.col
      val db = s"graftq${System.nanoTime()}"
      val url = s"jdbc:derby:memory:$db;create=true"
      def quoted(n: String) = s""""$n""""
      for (t <- Seq("region", "nation", "customer"))
        s.read.parquet(s"$d/$t.parquet")
          .write.mode("append").jdbc(url, quoted(t), new java.util.Properties())
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        for ((t, pk) <- Seq("region" -> "r_regionkey", "nation" -> "n_nationkey",
            "customer" -> "c_custkey")) {
          st.executeUpdate(s"""ALTER TABLE "$t" ALTER COLUMN "$pk" NOT NULL""")
          st.executeUpdate(s"""ALTER TABLE "$t" ADD PRIMARY KEY ("$pk")""")
        }
        st.executeUpdate("""ALTER TABLE "nation" ADD FOREIGN KEY ("n_regionkey") REFERENCES "region" ("r_regionkey")""")
        st.executeUpdate("""ALTER TABLE "customer" ADD FOREIGN KEY ("c_nationkey") REFERENCES "nation" ("n_nationkey")""")
        st.close()
      } finally conn.close()
      val cfg = graft.sources.JdbcCatalog.reflect(url, "APP")
      val forest = graft.sources.RelationalLoader.loadJdbc(s, url, cfg, dbtable = quoted)
      Schema.extractDataset(Forest.toNodesDF(forest), "customer")
        .select(col("c_acctbal"), col("c_custkey"), col("c_mktsegment"), col("c_name"))
    },
      // live-db round trip: parquet → Derby → reflect → loadJdbc → extract
      // must land on the same rows as the direct parquet extraction
      s"SELECT DISTINCT ${castCols(Seq("c_acctbal", "c_custkey", "c_mktsegment", "c_name"))} FROM customer"),
    // §2.1 read_document Excel lane (region table): each row rendered
    // as a real single-sheet .xlsx (zip + sheet XML, inline strings +
    // numeric cells), parsed back through the Xlsx subset reader into
    // the metamodel and extracted — write→parse→extract round trip
    // under the same oracle as the TOML lane
    Lane("read_document_xlsx", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      val rows = s.read.parquet(s"$d/region.parquet")
        .select(col("r_name"), col("r_regionkey").cast("long"))
        .as[(String, Long)]
      val bytes = rows.map { case (name, key) =>
        graft.sources.Xlsx.writeSingleSheet("region",
          Seq("r_name", "r_regionkey"), Seq(Seq(name, key)))
      }
      val forest = graft.sources.DocumentLoader.parseBinaryDocuments(bytes)(
        b => graft.sources.DocumentLoader.fromExcelBytes(b))
      Schema.extractDataset(Forest.toNodesDF(forest), "region")
    },
      s"SELECT DISTINCT ${castCols(Seq("r_name", "r_regionkey"))} FROM region"),
    // §2.1 read_document CSV lane (supplier table), through the format
    // sniffing chain — certifies CSV detection ahead of the YAML/TOML
    // lanes and the record-collection shape end-to-end
    Lane("read_document_csv", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, concat, lit}
      val csv = s.read.parquet(s"$d/supplier.parquet")
        .select(concat(
          lit("s_name,s_suppkey\n"),
          col("s_name"), lit(","), col("s_suppkey").cast("string")).as("doc")).as[String]
      val forest = graft.sources.DocumentLoader.parseDocuments(csv)(
        graft.sources.DocumentLoader.fromString)
      Schema.extractDataset(Forest.toNodesDF(forest), "root")
    },
      s"SELECT DISTINCT ${castCols(Seq("s_name", "s_suppkey"))} FROM supplier"),
    // §2.1 read_cypher at table scale, oracle-checked: customers and
    // nations as a property graph (node/edge frames with string-map
    // props — the zero-egress stand-in for a live bolt connection),
    // loaded through the per-component tree builder, then the Customer
    // group dataset extracted back out. A lossless graph→forest→dataset
    // round trip must reproduce the relational projection exactly.
    Lane("read_cypher_customer", (s, d) => {
      import org.apache.spark.sql.functions.{col, concat, lit, map}
      val cust = s.read.parquet(s"$d/customer.parquet")
      val nat = s.read.parquet(s"$d/nation.parquet")
      val nodes = cust.select(
          concat(lit("c:"), col("c_custkey")).as("id"), lit("Customer").as("label"),
          map(lit("c_name"), col("c_name").cast("string"),
            lit("c_acctbal"), col("c_acctbal").cast("string"),
            lit("c_mktsegment"), col("c_mktsegment").cast("string")).as("props"))
        .unionByName(nat.select(
          concat(lit("n:"), col("n_nationkey")).as("id"), lit("Nation").as("label"),
          map(lit("n_name"), col("n_name").cast("string")).as("props")))
      val edges = cust.select(
        concat(lit("c:"), col("c_custkey")).as("src"),
        concat(lit("n:"), col("c_nationkey")).as("dst"),
        lit("IN_NATION").as("tpe"), map().cast("map<string,string>").as("props"))
      val forest = graft.cypher.CypherLoader.load(s, nodes, edges)
      Schema.extractDataset(Forest.toNodesDF(forest), "Customer")
    },
      s"SELECT DISTINCT ${castCols(Seq("c_acctbal", "c_mktsegment", "c_name"))} FROM customer"),
    // §2.1/§2.2 corpus NLP pipeline at corpus scale, oracle-checked: one
    // sentence per document line → regex NER (env-free EntityExtractor
    // seam) → whitespace constituency parse → the full processTree
    // enrichment (coordination fixes, entity insertion, reduce, UNDEF
    // renames). Every extracted entity must survive into the forest, so
    // the oracle is the raw regex match count per type. The patterns are
    // substring-safe in this corpus's vocabulary (no word contains
    // another pattern), which keeps Java and RE2 regex semantics aligned.
    Lane("corpus_pipeline_documents", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, explode, split}
      val lines = s.read.parquet(s"$d/documents.parquet")
        .select(explode(split(col("text"), "\n")).as("line")).as[String]
      val extractor = new graft.nlp.RegexEntityExtractor(
        Seq("CUST" -> "customer", "SCAN" -> "scan"))
      val sentences = lines.map(l => extractor.extract(l))
      val forest = new graft.nlp.WhitespaceParser().parseBatch(sentences)
      Forest.toNodesDF(forest).filter(col("nodeType") === "ENT")
        .groupBy(col("name")).count().withColumnRenamed("count", "n_ents")
    },
      // every regex entity must survive the parse+enrich pipeline
      """SELECT 'CUST' AS name,
        |       CAST(sum(len(regexp_extract_all(text, 'customer'))) AS BIGINT) AS n_ents
        |FROM documents
        |UNION ALL
        |SELECT 'SCAN', CAST(sum(len(regexp_extract_all(text, 'scan'))) AS BIGINT)
        |FROM documents""".stripMargin),
    // §2.2 the full processTree restructuring surface, oracle-checked:
    // CoordinationParser emits the nested (NP … (COORD (CCONJ the) …))
    // shape, so fix_coord/fix_conj flatten every clean conjunction chain
    // into one CONJ (dropping the CCONJ leaves), ins_ent/unnest_ent wrap
    // the customer/scan tokens, and reduce + UNDEF-rename normalize the
    // rest. Every label class in the output has closed-form counts over
    // the token stream (see the oracle derivation comment below), so the
    // whole pipeline — not just the ENT tally — is checked bit-exactly.
    Lane("corpus_enrich_documents", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, explode, lit, split, when}
      val lines = s.read.parquet(s"$d/documents.parquet")
        .select(explode(split(col("text"), "\n")).as("line")).as[String]
      val extractor = new graft.nlp.RegexEntityExtractor(
        Seq("CUST" -> "customer", "SCAN" -> "scan"))
      val sentences = lines.map(l => extractor.extract(l))
      val forest = new graft.nlp.CoordinationParser("the").parseBatch(sentences)
      Forest.toNodesDF(forest)
        .select(when(col("nodeType") === "ENT", col("name"))
          .when(col("name") === "ROOT", lit("ROOT"))
          .otherwise(lit("UNDEF")).as("label"))
        .groupBy(col("label")).count().withColumnRenamed("count", "n_nodes")
    },
      // Closed-form processTree output counts. Per line: segments = token
      // runs split on 'the'; "clean" = every segment non-empty (else the
      // parser emits the flat shape, exercising no coordination). ENT
      // counts are the plain token tallies (entity-less lines die, but
      // contribute 0 anyway). Node removal CASCADES (MTree.remove mirrors
      // the reference's recursive=True): an entity-less segment vanishes,
      // a 1-entity segment collapses to a bare ENT (in place via reduce,
      // or hoisted to the CONJ when the entity is the segment's only
      // token), and a ≥2-entity segment survives as one structural node.
      // With m1/m2 = #segments holding exactly-one/two-or-more entities, a
      // clean line keeps a ROOT iff it retains ≥2 children (m1+m2 ≥ 2) or
      // its single survivor is structural (m2 ≥ 1), and its UNDEF count is
      // m2 except in the m2=1, m1=0 case where that node IS the root. Flat
      // lines: ≥2 entities → ROOT over bare ENTs; 1 → the ENT is the whole
      // tree; 0 → dropped. Zero-count labels are filtered because Spark's
      // groupBy cannot emit empty groups.
      """WITH lined AS (
        |  SELECT doc_id, li,
        |    list_filter(string_split(ls[li], ' '), x -> x <> '') AS toks
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)
        |  CROSS JOIN UNNEST(range(1, len(ls) + 1)) AS r(li)),
        |tok AS (
        |  SELECT doc_id, li, i, toks[i] AS t,
        |    sum(CASE WHEN toks[i] = 'the' THEN 1 ELSE 0 END) OVER
        |        (PARTITION BY doc_id, li ORDER BY i)
        |      - CASE WHEN toks[i] = 'the' THEN 1 ELSE 0 END AS seg
        |  FROM lined CROSS JOIN UNNEST(range(1, len(toks) + 1)) AS r(i)),
        |seg AS (
        |  SELECT doc_id, li, seg,
        |    count(*) FILTER (WHERE t IN ('customer', 'scan')) AS n_ent
        |  FROM tok GROUP BY 1, 2, 3
        |  HAVING count(*) FILTER (WHERE t <> 'the') > 0),
        |line AS (
        |  SELECT l.doc_id, l.li,
        |    len(list_filter(l.toks, x -> x = 'the')) AS k,
        |    len(list_filter(l.toks, x -> x = 'customer')) AS cust,
        |    len(list_filter(l.toks, x -> x = 'scan')) AS scn,
        |    (SELECT count(*) FROM seg s
        |     WHERE s.doc_id = l.doc_id AND s.li = l.li) AS nsegs,
        |    (SELECT count(*) FROM seg s
        |     WHERE s.doc_id = l.doc_id AND s.li = l.li AND s.n_ent = 1) AS m1,
        |    (SELECT count(*) FROM seg s
        |     WHERE s.doc_id = l.doc_id AND s.li = l.li AND s.n_ent >= 2) AS m2
        |  FROM lined l),
        |cls AS (SELECT *, (k >= 1 AND nsegs = k + 1) AS clean FROM line),
        |out AS (
        |  SELECT 'CUST' AS label, CAST(sum(cust) AS BIGINT) AS n_nodes FROM cls
        |  UNION ALL SELECT 'SCAN', CAST(sum(scn) AS BIGINT) FROM cls
        |  UNION ALL SELECT 'ROOT', CAST(sum(CASE
        |    WHEN clean AND (m1 + m2 >= 2 OR m2 >= 1) THEN 1
        |    WHEN NOT clean AND cust + scn >= 2 THEN 1
        |    ELSE 0 END) AS BIGINT) FROM cls
        |  UNION ALL SELECT 'UNDEF', CAST(sum(CASE
        |    WHEN clean AND m1 + m2 >= 2 THEN m2
        |    ELSE 0 END) AS BIGINT) FROM cls)
        |SELECT label, n_nodes FROM out WHERE n_nodes > 0""".stripMargin),
    // REAL-model parser seam (nlp/parser/corenlp.py:19-45 analogue):
    // token tags predicted by the MLlib-trained logistic regression,
    // distributed scoring over every document token. The training vocab
    // is perfectly separable (word-identity features; margin pinned in
    // MlTaggerSpec), so the oracle replays the model's predictions as a
    // dictionary join — an exact check that distributed inference agrees
    // with the trained decision function on the whole corpus.
    Lane("ml_tag_documents", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, explode, split}
      val model = mlTagModel(s)
      val vocab = graft.nlp.MlTagger.Dictionary.map(_._1).toSet
      s.read.parquet(s"$d/documents.parquet")
        .select(explode(split(col("text"), " ")).as("w")).as[String]
        .filter(w => vocab.contains(w))
        .map(w => model.tag(w)).toDF("tag")
        .groupBy("tag").count().withColumnRenamed("count", "n_tokens")
    },
      // The model's in-vocabulary predictions ARE the dictionary (margin
      // pinned in MlTaggerSpec), so distributed inference must reproduce
      // the dictionary join exactly.
      s"""WITH dict(w, tag) AS (VALUES $mlDictValues),
         |toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |SELECT tag, count(*) AS n_tokens
         |FROM toks JOIN dict USING (w) GROUP BY tag""".stripMargin),
    // The full MlTagParser chunker distributed over the corpus: each
    // document parses into (SENT chunk*) where chunks follow the
    // (DET|ADJ)* NOUN+ → NP, VERB+ → VP, else TOK grammar over the
    // model's tags. Because predictions equal the dictionary on this
    // vocabulary, the chunk arithmetic is closed-form over tag runs —
    // the oracle recomputes it with gaps-and-islands windows.
    Lane("ml_parse_documents", (s, d) => {
      import s.implicits._
      val parser = new graft.nlp.MlTagParser(mlTagModel(s))
      // oracle contract: the dictionary join on the DuckDB side drops
      // out-of-vocabulary tokens, while the chunker tags every token —
      // they agree exactly BECAUSE the corpus vocabulary is covered, so
      // a new corpus word must fail loudly here, not desynchronize the
      // two sides silently
      val vocab = graft.nlp.MlTagger.Dictionary.map(_._1).toSet
      val docsDs = s.read.parquet(s"$d/documents.parquet").select("text").as[String]
      // the Spark chunker tokenizes on \s+ runs while the oracle's
      // string_split(text, ' ') splits on single spaces — so guard BOTH
      // divergence classes: any non-space whitespace (the tokenizations
      // would disagree) and any token outside the dictionary (the
      // oracle's dict join would drop it). The guard runs INSIDE the
      // parse scan (it used to be its own full corpus pass): a dirty
      // document fails the job loudly before any result commits, and a
      // clean corpus — the oracle-checked case — pays zero extra scans.
      docsDs
        .flatMap { t =>
          if (t.exists(c => c.isWhitespace && c != ' '))
            throw new IllegalArgumentException(
              s"ml_parse_documents oracle requires space-only whitespace; non-space whitespace in: ${t.take(40)}")
          t.split(" ").iterator.filter(w => w.nonEmpty && !vocab.contains(w)).take(1).foreach { w =>
            throw new IllegalArgumentException(
              s"ml_parse_documents oracle requires full vocabulary coverage; OOV token: $w")
          }
          parser.parse(t, "English").toSeq.flatMap(_.children.collect {
            case graft.core.Child.Node(c) => c.label.name
          })
        }.toDF("label")
        .groupBy("label").count().withColumnRenamed("count", "n_chunks")
    },
      // Chunk arithmetic over tag runs: collapse DET/ADJ into one class
      // 'DA', group maximal same-class runs (gaps-and-islands), then
      // NP = #NOUN runs (a preceding DA run merges INTO the NP),
      // VP = #VERB runs, TOK = tokens of DA runs not followed by a NOUN
      // run. Zero-count labels filtered (Spark groupBy can't emit them).
      s"""WITH dict(w, tag) AS (VALUES $mlDictValues),
         |toks AS (
         |  SELECT doc_id, i, ws[i] AS w
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         |  CROSS JOIN UNNEST(range(1, len(ws) + 1)) AS r(i)),
         |tagged AS (
         |  SELECT doc_id, i,
         |         CASE WHEN tag IN ('DET','ADJ') THEN 'DA' ELSE tag END AS cls
         |  FROM toks JOIN dict USING (w)),
         |marks AS (
         |  SELECT doc_id, i, cls,
         |         CASE WHEN lag(cls) OVER (PARTITION BY doc_id ORDER BY i)
         |              IS DISTINCT FROM cls THEN 1 ELSE 0 END AS new_run
         |  FROM tagged),
         |runs0 AS (
         |  SELECT doc_id, i, cls,
         |         sum(new_run) OVER (PARTITION BY doc_id ORDER BY i) AS run_id
         |  FROM marks),
         |runs AS (
         |  SELECT doc_id, run_id, min(cls) AS cls, count(*) AS len, min(i) AS lo
         |  FROM runs0 GROUP BY doc_id, run_id),
         |rn AS (
         |  SELECT *, lead(cls) OVER (PARTITION BY doc_id ORDER BY lo) AS next_cls
         |  FROM runs),
         |out AS (
         |  SELECT 'NP' AS label, CAST(count(*) AS BIGINT) AS n_chunks
         |  FROM rn WHERE cls = 'NOUN'
         |  UNION ALL SELECT 'VP', CAST(count(*) AS BIGINT)
         |  FROM rn WHERE cls = 'VERB'
         |  UNION ALL SELECT 'TOK', CAST(coalesce(sum(len), 0) AS BIGINT)
         |  FROM rn WHERE cls = 'DA' AND (next_cls IS NULL OR next_cls <> 'NOUN'))
         |SELECT label, n_chunks FROM out WHERE n_chunks > 0""".stripMargin),
    // §2 row 4: the BRAT corpus loader under a cross-engine oracle — the
    // last unit-only operator. Each document is turned into a
    // deterministic (txt, .ann) BRAT pair: every 7th word separator
    // becomes a sentence break, every 5th word an entity (types cycling
    // pers/freq/moment, real character offsets), consecutive entities a
    // relation (types alternating likes/incertain_rel). The REAL
    // pipeline then runs end-to-end: parseAnn → convertExample with a
    // FREQ→FREQUENCE rename + FREQUENCE deny-filter (so dropped
    // entities also kill their relations), ascii-fold + sentence split,
    // offset re-anchoring, same-sentence relation assignment, and
    // empty-sentence pruning. The oracle never parses anything: with
    // entities pinned to word index 5j and sentences to 7-word spans,
    // sentence membership is floor(5j/7) and every output count is
    // closed-form integer arithmetic over j — if the parser or the
    // offset re-anchoring drifts by one character, the counts diverge.
    Lane("read_brat_documents", (s, d) => {
      import s.implicits._
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
        .as[(Long, String)]
      docs.map { case (id, raw) =>
        val (txt, ann) = bratFixture(raw)
        bratCounts(id, txt, ann)
      }.toDF("doc_id", "n_sentences", "n_entities", "n_relations")
    },
      // Closed-form integer arithmetic over entity index j (entities at
      // word 5j, sentences of 7 words → sentence = 5j // 7): kept entity
      // ⟺ j % 3 ≠ 1 (freq dropped after the rename); kept relation ⟺
      // j % 6 = 2 (even j keeps "likes", and both endpoints must dodge
      // the freq slot) with both endpoints in one sentence; annotated
      // sentences = distinct sentence values over kept entities. No
      // parsing, no offsets — the Spark side's real parser must land on
      // these numbers.
      bratCountsOracle),
    // §2.1 BRAT ARCHIVE ingestion (nlp/__init__.py:168-231): the same
    // corpus packaged into one .tar.gz per partition (streamed ustar
    // writer), then loaded back through Brat.archiveDocuments — one
    // task per archive, entries streamed, nothing extracted to disk.
    // Same oracle as the directory lane: the container must be
    // invisible in the parsed result.
    Lane("read_brat_archive_documents", (s, d) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-brat").toString
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
        .as[(Long, String)]
      docs.repartition(8).foreachPartition { (it: Iterator[(Long, String)]) =>
        val entries = it.flatMap { case (id, raw) =>
          val (txt, ann) = bratFixture(raw)
          Seq((s"corpus/$id.txt", txt.getBytes("UTF-8")),
            (s"corpus/$id.ann", ann.getBytes("UTF-8")))
        }.toSeq
        if (entries.nonEmpty) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$tmp/part$pid.tar.gz"),
            graft.nlp.Archive.writeTarGz(entries))
        }
        ()
      }
      graft.nlp.Brat.archiveDocuments(s, s"$tmp/*.tar.gz")
        .map { case (base, txt, ann) =>
          bratCounts(base.substring(base.lastIndexOf('/') + 1).toLong, txt, ann)
        }.toDF("doc_id", "n_sentences", "n_entities", "n_relations")
    },
      // the archive round trip must be invisible: same counts either way
      bratCountsOracle),
  )
}
