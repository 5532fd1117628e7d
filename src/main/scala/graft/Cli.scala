package graft

import graft.metrics.ForestInspector
import graft.model.{Forest, Schema}
import graft.sources.{DbConfig, RelationalLoader, Testdata}
import org.apache.spark.sql.SparkSession

/** Command-line entry points mirroring the reference CLI surface
  * (cli/__init__.py:76-187 cleanup/simplify/inspect, cli/export.py:15-39
  * graph/sql, cli/__init__.py:437 generate, cli/__init__.py:189
  * simplify_llm under the offline client, cli/__init__.py:58-74 `ui`)
  * minus the env-absent lanes (live model endpoints): every command
  * dispatches to the same library modules the registered queries use.
  *
  *   sbt "runMain graft.Cli inspect /root/testdata/sf0.001"
  */
object Cli {

  private def usage(): Nothing = {
    System.err.println(
      """usage: graft.Cli <command> [args]
        |  inspect <dir> [--db customerDb|ordersDb|tpch]   forest statistics
        |  load <dir> [--db NAME] [--out DIR]              relational load to a metamodel forest (JSONL if --out)
        |  load document <path> [--raw] [--root-name N] [--sample K] [--out DIR]
        |                                                  document files (JSON/XML/CSV/YAML/TOML sniffed)
        |  load graph <nodes.parquet> <edges.parquet> [--out DIR]
        |                                                  property graph (id,label,props / src,dst,tpe,props)
        |  load corpus <dir> [--cache DIR] [--out DIR] [--corenlp URL]
        |                                                  BRAT .txt/.ann pairs through the NLP pipeline
        |                                                  (whitespace parser, or a live CoreNLP server)
        |  simplify <dir> [--db NAME] [--tau T] [--decay D] [--epochs N]
        |           [--min-support K] [--schema-only] [--metrics] [--out DIR]
        |           [--store DIR]                        transactional per-epoch snapshots
        |           [--metrics-log FILE]                 JSONL metric bundle (MLflow-shaped)
        |           [--mlflow DIR]                       write bundle as an MLflow file-store run
        |  snapshots <storeDir>                          list a forest store's history + HEAD
        |  rollback <storeDir> <name>                    move a store's HEAD to a snapshot
        |  simplify-llm <dir> [--db NAME] [--min-support K] [--vocab-similarity S]
        |           [--refining-steps N] [--max-tokens T] [--metrics] [--out DIR]
        |           [--endpoint URL] [--model M] [--api-key K]
        |                                                  LLM-protocol simplify (offline groupify client,
        |                                                  or a live chat-completions endpoint via --endpoint)
        |  cleanup <dir> [--db NAME] [--out DIR]           keep only schema-valid trees
        |  compare <dirA> <dirB> [--db NAME] [--tau T]     coverage/AMI/completeness between loads
        |  export sql|cypher <dir> [--db NAME] [--out DIR]
        |         cypher: [--bolt HOST[:PORT]] [--user U] [--password P] [--cleanup]
        |                                                  execute the export over a live bolt connection
        |  generate [--size N] [--out DIR]                 synthetic instance from the demo schema
        |  cache-clear <dir>                               remove a corpus parse cache
        |  ui [--port P] [--bind-all]                      browser workbench (loopback unless --bind-all)
        |  pipeline profile|dedup|sample|pack|rank|quantiles <docs.parquet>
        |           [--id C] [--text C] [--out DIR]
        |           [--method exact|lines|ngram|minhash|simhash]   (dedup)
        |           [--fraction F] [--split NAME]                  (sample)
        |           [--budget N]                                   (pack)
        |           [--by C] [--group C] [--value C]               (rank/quantiles)
        |                                                  training-data corpus operators
        |""".stripMargin)
    sys.exit(2)
  }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-cli")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def dbConfig(name: String): DbConfig = name match {
    case "customerDb" => Testdata.customerDb
    case "ordersDb"   => Testdata.ordersDb
    case "tpch"       => Testdata.tpch
    case other =>
      System.err.println(s"unknown --db $other (customerDb|ordersDb|tpch)"); sys.exit(2)
  }

  /** `--key value` and bare `--flag` options after the positionals. */
  private def parseOpts(rest: List[String]): Map[String, String] = rest match {
    case Nil => Map.empty
    case key :: value :: tail if key.startsWith("--") && !value.startsWith("--") =>
      parseOpts(tail) + (key.drop(2) -> value)
    case key :: tail if key.startsWith("--") =>
      parseOpts(tail) + (key.drop(2) -> "true")
    case other :: _ =>
      System.err.println(s"unexpected argument: $other"); sys.exit(2)
  }

  private def showSchema(schema: Schema): Unit = {
    println("== schema ==")
    schema.productions.map(p => s"${p.lhs} -> ${p.rhs.mkString(" ")}").sorted.foreach(println)
    println("== relations ==")
    schema.relations.toSeq.sortBy(_.name)
      .foreach(r => println(s"${r.name}: ${r.left} <-> ${r.right} [${r.orientation}]"))
  }

  def main(args: Array[String]): Unit = args.toList match {
    // corpus-pipeline lane: the training-data operators over a plain
    // documents parquet (doc_id, text[, lang, …]) — the surface a data
    // engineer drives without touching the metamodel
    case "pipeline" :: op :: path :: rest =>
      val opts = parseOpts(rest)
      val spark = session()
      val docs = spark.read.parquet(path)
      val out = pipelineFrame(op, docs, opts)
      opts.get("out") match {
        case Some(o) =>
          out.write.mode("overwrite").parquet(o)
          println(s"wrote ${spark.read.parquet(o).count()} rows to $o")
        case None => out.show(20, truncate = false)
      }
      spark.stop()

    case "inspect" :: dir :: rest =>
      val opts = parseOpts(rest)
      val spark = session()
      val nodes = RelationalLoader.loadNodes(spark, dir, dbConfig(opts.getOrElse("db", "customerDb")))
      ForestInspector.inspectTable(nodes).orderBy("stat").collect()
        .foreach(r => println(f"${r.getString(0)}%-24s ${r.get(1)}"))
      spark.stop()

    // document lane (cli/loader.py:67-96): whole files through the
    // try-each-parser sniffing chain
    case "load" :: "document" :: path :: rest =>
      val opts = parseOpts(rest)
      val spark = session()
      import spark.implicits._
      // --raw / --root-name / --sample mirror read_document's raw_read /
      // root_name / sample options (cli/loader.py:67-78)
      val raw = opts.contains("raw")
      val rootName = opts.getOrElse("root-name", "ROOT")
      val sample = opts.get("sample").map(_.toInt).getOrElse(0)
      val docs = spark.sparkContext.wholeTextFiles(path).map(_._2).toDS()
      val forest = graft.sources.DocumentLoader.parseDocuments(docs)(
        graft.sources.DocumentLoader.readDocument(_, raw, rootName, sample))
      reportForest(forest, opts)
      spark.stop()

    // property-graph lane (cli/loader.py:129-161): node/edge frames from
    // parquet instead of a bolt connection (zero-egress environment)
    case "load" :: "graph" :: nodesPath :: edgesPath :: rest =>
      val opts = parseOpts(rest)
      val spark = session()
      val forest = graft.cypher.CypherLoader.load(spark,
        spark.read.parquet(nodesPath), spark.read.parquet(edgesPath))
      reportForest(forest, opts)
      spark.stop()

    // corpus lane (cli/loader.py:163-187): BRAT .txt/.ann pairs →
    // sentence split → parse (whitespace floor parser by default; a
    // live CoreNLP server via --corenlp URL) → enrich via
    // NlpOps.processTree; optionally cached
    case "load" :: "corpus" :: dir :: rest =>
      val opts = parseOpts(rest)
      val spark = session()
      import spark.implicits._
      val parser: graft.nlp.SentenceParser = opts.get("corenlp") match {
        case Some(url) => new graft.nlp.CoreNlpHttpParser(url)
        case None      => new graft.nlp.WhitespaceParser()
      }
      // an archive path (.tar.gz/.tgz/.zip/.tar — or a glob of them)
      // streams entries per archive; a directory globs (txt, ann) pairs
      val isArchive = Seq(".tar.gz", ".tgz", ".zip", ".tar")
        .exists(dir.toLowerCase.endsWith)
      def parse() = {
        val sentences =
          if (isArchive)
            graft.nlp.Brat.archiveDocuments(spark, dir).flatMap { case (_, txt, ann) =>
              graft.nlp.Brat.parseDocument(txt, ann)
            }
          else {
            val byBase = spark.sparkContext.wholeTextFiles(s"$dir/*.{txt,ann}")
              .map { case (path, content) =>
                val name = path.substring(path.lastIndexOf('/') + 1)
                val (base, ext) = name.splitAt(name.lastIndexOf('.'))
                (base, (ext, content))
              }
              .groupByKey()
            byBase.flatMap { case (_, parts) =>
              val m = parts.toMap
              for {
                txt <- m.get(".txt").toSeq
                sentence <- graft.nlp.Brat.parseDocument(txt, m.getOrElse(".ann", ""))
              } yield sentence
            }.toDS()
          }
        parser.parseBatch(sentences)
      }
      val forest = opts.get("cache") match {
        case Some(cacheDir) =>
          // cacheKey's contract wants a content fingerprint, not a bare
          // path — otherwise edits to the corpus silently serve stale
          // parses. Name + size + mtime of every input file is the
          // cheapest stable one.
          val cpath = new org.apache.hadoop.fs.Path(
            if (isArchive) dir else s"$dir/*.{txt,ann}")
          val fs = cpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val fingerprint = Option(fs.globStatus(cpath)).getOrElse(Array.empty)
            .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
            .sorted.mkString("\n")
          // the key carries the parser IDENTITY including the server
          // URL — two CoreNLP servers (different versions/models) must
          // never silently serve each other's cached parses
          val key = graft.nlp.CorpusCache.cacheKey(s"$dir\n$fingerprint",
            Map("parser" -> opts.get("corenlp").map(u => s"corenlp:$u").getOrElse("whitespace")))
          graft.nlp.CorpusCache.getOrParse(spark, cacheDir, key)(parse())
        case None => parse()
      }
      reportForest(forest, opts)
      spark.stop()

    // incomplete sub-lane invocations must print usage, not fall through
    // to a relational load of a directory literally named "document" etc.
    case "load" :: ("document" | "graph" | "corpus") :: Nil => usage()
    case "load" :: "graph" :: _ :: Nil                      => usage()

    case "load" :: dir :: rest =>
      val opts = parseOpts(rest)
      val spark = session()
      val forest = RelationalLoader.load(spark, dir, dbConfig(opts.getOrElse("db", "customerDb")))
      reportForest(forest, opts)
      spark.stop()

    case "simplify" :: dir :: rest =>
      val opts = parseOpts(rest)
      val spark = session()
      import graft.rewrite.Rewrite
      // --store: transactional history over a ForestStore — the input is
      // committed as epoch_0 before any rewriting, every epoch commits a
      // snapshot, and a crash mid-epoch leaves HEAD on the last
      // committed state (reference ZODB bucket semantics; restore with
      // `graft.Cli rollback <store> epoch_0`)
      val store = opts.get("store").map(new graft.model.ForestStore(spark, _))
      val cfg = Rewrite.Config(
        tau = opts.get("tau").map(_.toDouble).getOrElse(0.7),
        decay = opts.get("decay").map(_.toDouble).getOrElse(2.0),
        epochs = opts.get("epochs").map(_.toInt).getOrElse(100),
        minSupport = opts.get("min-support").map(_.toInt),
        schemaOnly = opts.contains("schema-only"),
        epochHook = store.map(s => (epoch, f) => s.commit(f"epoch_$epoch%04d", f)))
      val forest = RelationalLoader.load(spark, dir, dbConfig(opts.getOrElse("db", "customerDb")))
        .localCheckpoint(true)
      store.foreach(_.commit("epoch_0000", forest))
      println(s"rewriting ${forest.count()} trees with tau=${cfg.tau}, decay=${cfg.decay}, " +
        s"epochs=${cfg.epochs}, minSupport=${cfg.minSupport.getOrElse("auto")}")
      val out = Rewrite.rewrite(forest, cfg)
      showSchema(Schema.fromForest(Forest.toNodesDF(out), keepUnlabelled = false))
      // --metrics (cli/__init__.py:138,104-110): simplification quality
      // vs the input forest; --metrics-log FILE additionally records the
      // reference's full log_to_mlflow bundle through the MetricsSink
      // seam (JSONL locally; an MLflow-backed sink drops in)
      if (opts.contains("metrics") || opts.contains("metrics-log") ||
          opts.contains("mlflow")) {
        val m = new graft.metrics.Metrics(forest, cfg.tau)
        m.update(out)
        println(f"coverage=${m.coverage}%.4f")
        println(f"cluster_ami=${m.clusterAmi}%.4f")
        println(f"cluster_completeness=${m.clusterCompleteness}%.4f")
        opts.get("metrics-log").foreach { f =>
          graft.metrics.MetricsLog.log(m,
            new graft.metrics.JsonlMetricsSink(f), iteration = cfg.epochs, debug = true)
          println(s"logged metric bundle to $f")
        }
        // --mlflow DIR: the same bundle into MLflow's file-store layout
        // (`mlflow ui --backend-store-uri file:DIR` charts it directly)
        opts.get("mlflow").foreach { root =>
          val sink = new graft.metrics.MlflowFileStoreSink(root,
            experimentName = "graft", runName = "simplify")
          sink.logParams(Map(
            "tau" -> cfg.tau.toString, "decay" -> cfg.decay.toString,
            "epochs" -> cfg.epochs.toString,
            "min_support" -> cfg.minSupport.map(_.toString).getOrElse("auto")))
          graft.metrics.MetricsLog.log(m, sink, iteration = cfg.epochs, debug = true)
          sink.endRun()
          println(s"logged MLflow run ${sink.runDirectory}")
        }
      }
      store.foreach { s =>
        s.commit("simplified", out)
        println(s"committed snapshot 'simplified' (HEAD) to ${s.root}")
      }
      opts.get("out").foreach { o =>
        graft.sinks.Jsonl.write(out, o)
        println(s"wrote simplified forest to $o")
      }
      spark.stop()

    // cli/__init__.py:189-313 simplify_llm, minus the env-absent model
    // endpoints (huggingface/openvino/mlflow): the full numbered-list
    // rewrite protocol runs against the deterministic offline
    // GroupifyLlmClient; a live endpoint plugs in through the same
    // LlmClient seam.
    case "simplify-llm" :: dir :: rest =>
      val opts = parseOpts(rest)
      val spark = session()
      import graft.llm.LlmRewrite
      val cfg = LlmRewrite.Config(
        maxTokens = opts.get("max-tokens").map(_.toInt).getOrElse(4096),
        refiningSteps = opts.get("refining-steps").map(_.toInt).getOrElse(0),
        minSupport = opts.get("min-support").map(_.toInt),
        vocabSimilarity = opts.get("vocab-similarity").map(_.toDouble).getOrElse(0.6))
      val forest = Forest.untypeStructure(
        RelationalLoader.load(spark, dir, dbConfig(opts.getOrElse("db", "customerDb"))))
        .localCheckpoint(true)
      println(s"llm-rewriting ${forest.count()} trees with " +
        s"minSupport=${cfg.minSupport.getOrElse("auto")}, vocabSimilarity=${cfg.vocabSimilarity}, " +
        s"refiningSteps=${cfg.refiningSteps}")
      // --endpoint: live OpenAI-compatible chat-completions server;
      // default: the offline groupify double (same protocol either way)
      val client: graft.llm.LlmClient = opts.get("endpoint") match {
        case Some(url) => new graft.llm.HttpLlmClient(url,
          model = opts.getOrElse("model", "default"),
          apiKey = opts.get("api-key"))
        case None => new graft.llm.GroupifyLlmClient
      }
      val out = LlmRewrite.rewrite(forest, client, cfg)
      showSchema(Schema.fromForest(Forest.toNodesDF(out), keepUnlabelled = false))
      if (opts.contains("metrics")) {
        val m = new graft.metrics.Metrics(forest, 0.7)
        m.update(out)
        println(f"coverage=${m.coverage}%.4f")
        println(f"cluster_ami=${m.clusterAmi}%.4f")
        println(f"cluster_completeness=${m.clusterCompleteness}%.4f")
      }
      opts.get("out").foreach { o =>
        graft.sinks.Jsonl.write(out, o)
        println(s"wrote simplified forest to $o")
      }
      spark.stop()

    case "cleanup" :: dir :: rest =>
      val opts = parseOpts(rest)
      val spark = session()
      val forest = RelationalLoader.load(spark, dir, dbConfig(opts.getOrElse("db", "customerDb")))
        .localCheckpoint(true)
      val schema = Schema.fromForest(Forest.toNodesDF(forest), keepUnlabelled = false)
      showSchema(schema)
      val valid = schema.extractValidTrees(forest)
      println(s"valid trees: ${valid.count()} of ${forest.count()}")
      opts.get("out").foreach { o =>
        graft.sinks.Jsonl.write(valid, o)
        println(s"wrote valid forest to $o")
      }
      spark.stop()

    case "compare" :: srcDir :: dstDir :: rest =>
      val opts = parseOpts(rest)
      val spark = session()
      val cfg = dbConfig(opts.getOrElse("db", "customerDb"))
      val tau = opts.get("tau").map(_.toDouble).getOrElse(0.7)
      val src = RelationalLoader.load(spark, srcDir, cfg).localCheckpoint(true)
      val dst = RelationalLoader.load(spark, dstDir, cfg).localCheckpoint(true)
      val metrics = new graft.metrics.Metrics(src, tau)
      metrics.update(dst)
      println(f"coverage=${metrics.coverage}%.4f")
      println(f"cluster_ami=${metrics.clusterAmi}%.4f")
      println(f"cluster_completeness=${metrics.clusterCompleteness}%.4f")
      spark.stop()

    case "export" :: kind :: dir :: rest =>
      val opts = parseOpts(rest)
      val spark = session()
      val cfg = dbConfig(opts.getOrElse("db", "customerDb"))
      kind match {
        case "sql" =>
          val nodes = RelationalLoader.loadNodes(spark, dir, cfg)
          val schema = Schema.fromForest(nodes, keepUnlabelled = false)
          val ex = graft.sinks.SqlExporter.export(nodes, schema)
          ex.ddl.foreach(println)
          opts.get("out").foreach { o =>
            ex.tables.foreach { case (name, df) => df.write.mode("overwrite").parquet(s"$o/$name") }
            println(s"wrote ${ex.tables.size} tables to $o")
          }
          ex.release()
        case "cypher" =>
          val forest = RelationalLoader.load(spark, dir, cfg)
          val schema = Schema.fromForest(Forest.toNodesDF(forest), keepUnlabelled = false)
          val ex = graft.cypher.CypherExporter.export(forest, schema)
          // --out and --bolt compose: write the statement file AND/OR
          // execute live (silently dropping one of two requested
          // effects would be a lie)
          opts.get("out").foreach { o =>
            ex.statements.write.mode("overwrite").text(o)
            println(s"wrote Cypher statements to $o")
          }
          opts.get("bolt") match {
            case Some(addr) =>
              // live write over the bolt wire: per-task sessions, three
              // phased passes — the reference's neo4j write path
              val (host, port) = addr.split(":", 2) match {
                case Array(h, p) => (h, p.toInt)
                case _ => (addr, 7687)
              }
              graft.cypher.CypherExecutor.runDistributed(ex,
                new graft.cypher.BoltSessionFactory(host, port,
                  opts.get("user"), opts.get("password")),
                cleanup = opts.contains("cleanup"))
              println(s"executed Cypher export against bolt://$host:$port")
            case None =>
              if (!opts.contains("out")) ex.statements.take(20).foreach(println)
              ex.cleanup.foreach(println)
          }
        case other =>
          System.err.println(s"unknown export target $other (sql|cypher)"); sys.exit(2)
      }
      spark.stop()

    case "generate" :: rest =>
      val opts = parseOpts(rest)
      val spark = session()
      import graft.model.{Group => SGroup, Relation => SRelation, RelationOrientation => SRO}
      // the demo schema the synthetic-rewrite golden uses
      val schema = Schema.fromDescription(
        groups = Set(
          SGroup("SOSY", Set("SOSY", "ANATOMIE", "SUBSTANCE")),
          SGroup("TREATMENT", Set("SUBSTANCE", "DOSAGE", "ADMINISTRATION", "FREQUENCY")),
          SGroup("EXAM", Set("DIAGNOSTIC_PROCEDURE", "ANATOMIE"))),
        relations = Set(
          SRelation("PRESCRIPTION", "SOSY", "TREATMENT", SRO.Both),
          SRelation("EXAM_RESULT", "EXAM", "SOSY", SRO.Both)),
        collections = false)
      val size = opts.get("size").map(_.toInt).getOrElse(10)
      val trees = graft.rewrite.Generator.genInstance(schema, size = size, generateCollections = false)
      println(s"generated ${trees.size} trees")
      trees.take(3).foreach(t => println(t.render.take(300)))
      opts.get("out").foreach { o =>
        graft.sinks.Jsonl.write(Forest.fromTrees(spark, trees), o)
        println(s"wrote generated forest to $o")
      }
      spark.stop()

    // forest-store history surface (ZODB bucket stand-in)
    case "snapshots" :: storeDir :: Nil =>
      val spark = session()
      val store = new graft.model.ForestStore(spark, storeDir)
      val h = store.head
      store.list.foreach(n => println(s"${if (h.contains(n)) "*" else " "} $n"))
      if (store.list.isEmpty) println(s"no snapshots under $storeDir")
      spark.stop()

    case "rollback" :: storeDir :: name :: Nil =>
      val spark = session()
      val store = new graft.model.ForestStore(spark, storeDir)
      store.rollback(name)
      println(s"HEAD -> $name (${store.load(name).count()} trees)")
      spark.stop()

    // cache-clear (cli/__init__.py:467-483): drop a corpus parse cache
    case "cache-clear" :: dir :: Nil =>
      val spark = session()
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) {
        fs.delete(path, true)
        println(s"cleared cache at $dir")
      } else println(s"no cache at $dir")
      spark.stop()

    // browser workbench (cli/__init__.py:58-74 `ui` launches streamlit):
    // serves graft.ui.UiServer on loopback unless --bind-all is passed
    case "ui" :: rest =>
      val running = startUi(session(), parseOpts(rest))
      println(s"graft workbench listening on http://localhost:${running.port}/")
      // block until interrupted; ^C stops the JVM and with it the server
      Thread.currentThread().join()

    case _ => usage()
  }

  /** The `ui` dispatch body, factored out so CliSpec can exercise the
    * option wiring against the shared test session (main owns the block
    * loop; this owns semantics).
    */
  private[graft] def startUi(spark: SparkSession, opts: Map[String, String]): graft.ui.UiServer.Running =
    graft.ui.UiServer.start(spark,
      port = opts.getOrElse("port", "8501").toInt,
      bindAll = opts.contains("bind-all"))

  /** The `pipeline` subcommand's frame builder, factored out so the
    * dispatch is unit-testable against the shared test session (main
    * owns session lifecycle; this owns semantics). Operators taking an
    * id/text column default to doc_id/text, overridable via --id/--text.
    */
  private[graft] def pipelineFrame(
      op: String,
      docs: org.apache.spark.sql.DataFrame,
      opts: Map[String, String],
  ): org.apache.spark.sql.DataFrame = {
    import graft.operators._
    val id = opts.getOrElse("id", "doc_id")
    val text = opts.getOrElse("text", "text")
    op match {
      case "profile" =>
        TextAnalysis.stats(docs, id, text)
          .join(TextAnalysis.langId(docs, id, text), "doc_id")
          .join(TextAnalysis.qualityScore(docs, id, text), "doc_id")
      case "dedup" =>
        opts.getOrElse("method", "exact") match {
          case "exact" => Dedup.exact(docs, id, text)
          case "lines" => Dedup.lineDedup(docs, id, text)
          case "ngram" =>
            Dedup.resolvePairs(docs, id, Dedup.ngramJaccardPairs(docs, id, text))
          case "minhash" =>
            Dedup.resolvePairs(docs, id, Dedup.minHashLshPairs(docs, id, text))
          case "simhash" =>
            Dedup.resolvePairs(docs, id, Dedup.simHashPairs(docs, id, text))
          case other =>
            throw new IllegalArgumentException(
              s"unknown dedup method $other (exact|lines|ngram|minhash|simhash)")
        }
      case "sample" =>
        Sampling.deterministic(docs, id,
          fraction = opts.getOrElse("fraction", "0.1").toDouble,
          splitName = opts.getOrElse("split", ""))
      case "pack" =>
        Packing.packByTokenBudget(docs, id,
          TextAnalysis.tokenCountExpr(org.apache.spark.sql.functions.col(text)),
          budget = opts.getOrElse("budget", "4096").toLong)
      case "rank" =>
        Ranking.globalRank(docs, id, opts.getOrElse("by", "n_chars"))
      case "quantiles" =>
        Stats.nearestRankQuantiles(docs,
          opts.getOrElse("group", "lang"), opts.getOrElse("value", "n_chars"),
          Seq(50, 90, 99))
      // corpus-shaped default constraint suite; threshold override in ppm
      case "validate" =>
        val minPpm = opts.getOrElse("min-ppm", "1000000").toLong
        Validation.validate(docs, Seq(
          Validation.Check.Completeness(text, minPpm),
          Validation.Check.Distinctness(id, minPpm),
          Validation.Check.Satisfies(s"nonempty($text)", text,
            s"length($text) > 0", minPpm)))
      // per-stratum mixture accounting: uniform (cap to the smallest
      // stratum) or temperature p^(1/2^k) via --sqrt-apps
      case "mixture" =>
        val strata = opts.getOrElse("by", "lang")
        opts.get("sqrt-apps") match {
          case Some(k) => Mixture.temperatureRebalance(docs, strata, text, k.toInt)
          case None    => Mixture.uniformRebalance(docs, strata, text)
        }
      // token-balanced training shards; --shard-out writes the
      // Hive-partitioned layout and reports the read-back summary,
      // otherwise the assignment frame is returned
      case "shard" =>
        val n = opts.getOrElse("shards", "16").toInt
        val tok = TextAnalysis.tokenCountExpr(org.apache.spark.sql.functions.col(text))
        opts.get("shard-out") match {
          case Some(p) => graft.sinks.ShardedStore.write(docs, id, tok, n, p)
          case None    => graft.sinks.ShardedStore.assignShards(docs, id, tok, n)
        }
      case other =>
        throw new IllegalArgumentException(
          s"unknown pipeline op $other (profile|dedup|sample|pack|rank|quantiles|validate|mixture|shard)")
    }
  }

  /** Shared tail for the load lanes: count, sample, optional JSONL out. */
  private def reportForest(
      forest: org.apache.spark.sql.Dataset[graft.model.TreeRow],
      opts: Map[String, String],
  ): Unit = {
    println(s"trees: ${forest.count()}")
    Forest.collectTrees(forest.limit(1)).headOption
      .foreach(t => println(s"sample: ${t.render.take(300)}"))
    opts.get("out").foreach { out =>
      graft.sinks.Jsonl.write(forest, out)
      println(s"wrote JSONL forest to $out")
    }
  }
}
