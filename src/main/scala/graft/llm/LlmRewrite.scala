package graft.llm

import graft.core._
import graft.model.TreeRow
import org.apache.spark.sql.Dataset

/** Chat-completion client contract for the LLM-based operators.
  *
  * The reference drives a LangChain `BaseChatModel`
  * (architxt/simplification/llm.py:332-407); this build runs in a
  * zero-egress environment, so the contract is a plain serializable
  * function the caller implements against whatever endpoint they have.
  * Tests use a deterministic stub. Token counting defaults to the usual
  * chars/4 heuristic (callers with a real tokenizer should override).
  */
trait LlmClient extends Serializable {

  /** One chat completion: full prompt in, raw model text out. */
  def complete(prompt: String): String

  /** Token estimate used for prompt batching (llm.get_num_tokens). */
  def countTokens(text: String): Int = math.max(1, text.length / 4)
}

/** LLM-based forest rewriting (reference
  * architxt/simplification/llm.py): batch trees under a token budget,
  * prompt for one simplified JSON tree per input, parse each answer with
  * fallback-to-original, sanitize invalid GROUP/REL labels, and snap
  * labels onto a support-mined vocabulary.
  *
  * Spark shape: vocabulary extraction is a distributed label count with
  * a (small) driver-side fuzzy merge; the simplification pass is one
  * `mapPartitions` per refining step — each partition batches its trees
  * by token budget and calls the endpoint, so Spark's parallelism
  * replaces the reference's `task_limit` async fan-out, and partition
  * mixing replaces its `windowed_shuffle` batch diversification.
  */
object LlmRewrite {

  /** Prompt preamble (condensed from DEFAULT_PROMPT, llm.py:51-104). */
  private[llm] def promptFor(vocab: Seq[String], numberedTrees: String): String = {
    val vocabStr =
      if (vocab.isEmpty) "" else s"Prefer these labels : ${vocab.mkString(", ")}.\n"
    "You are a data-engineer agent performing deterministic JSON tree " +
      "normalization and schema induction.\n" +
      "ENT = property, GROUP = table, REL = relation.\n" + vocabStr +
      "Do NOT modify or rename ENT nodes. Return one simplified tree per " +
      "input as a numbered list, one JSON object per line, each rooted at " +
      "{\"name\":\"ROOT\"}.\n\n" + numberedTrees
  }

  /** Parse a numbered-list response into payloads keyed by their item
    * number (anything unnumbered is ignored; on duplicates the first
    * wins). Keyed — not positional — so a model that skips an item
    * (answers "1., 3.") cannot shift later answers onto the wrong
    * input tree.
    */
  private[llm] def parseNumberedItems(raw: String): Map[Int, String] = {
    val item = """(?m)^\s*(\d+)\.\s*(.*)$""".r
    item.findAllMatchIn(raw)
      .map(m => m.group(1).toInt -> m.group(2).trim)
      .toVector.reverse.toMap // first occurrence of a number wins
  }

  /** Ordered payload list for prompts built by [[toNumberedList]]. */
  private[llm] def parseNumberedList(raw: String): Vector[String] = {
    val byNum = parseNumberedItems(raw)
    (1 to (if (byNum.isEmpty) 0 else byNum.keys.max)).flatMap(byNum.get).toVector
  }

  /** Normalization for vocabulary labels (llm.py:409-426): Unicode NFKC,
    * non-alphanumerics to spaces, upper snake_case.
    */
  def normalize(s: String): String = {
    val nfkc = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC)
    val spaced = nfkc.map(ch => if (ch.isLetterOrDigit) ch else ' ')
    spaced.trim.toUpperCase.replaceAll("\\s+", "_")
  }

  /** difflib.SequenceMatcher.ratio (no junk heuristic): 2·M / (|a|+|b|)
    * where M is the total size of the recursive longest-matching-block
    * decomposition.
    */
  private[llm] def ratio(a: String, b: String): Double = {
    def longestBlock(al: Int, ah: Int, bl: Int, bh: Int): (Int, Int, Int) = {
      var best = (al, bl, 0)
      var j2len = Map.empty[Int, Int]
      var i = al
      while (i < ah) {
        var newJ2len = Map.empty[Int, Int]
        var j = bl
        while (j < bh) {
          if (a(i) == b(j)) {
            val k = j2len.getOrElse(j - 1, 0) + 1
            newJ2len += (j -> k)
            if (k > best._3) best = (i - k + 1, j - k + 1, k)
          }
          j += 1
        }
        j2len = newJ2len
        i += 1
      }
      best
    }
    def matchSize(al: Int, ah: Int, bl: Int, bh: Int): Int = {
      val (bi, bj, k) = longestBlock(al, ah, bl, bh)
      if (k == 0) 0
      else k + matchSize(al, bi, bl, bj) + matchSize(bi + k, ah, bj + k, bh)
    }
    if (a.isEmpty && b.isEmpty) 1.0
    else 2.0 * matchSize(0, a.length, 0, b.length) / (a.length + b.length)
  }

  /** difflib.get_close_matches: up to n candidates with ratio ≥ cutoff,
    * best first.
    */
  private[llm] def closeMatches(
      word: String, possibilities: Iterable[String], n: Int, cutoff: Double): Seq[String] =
    possibilities.toSeq
      .map(p => p -> ratio(word, p))
      .filter(_._2 >= cutoff)
      .sortBy(-_._2)
      .take(n)
      .map(_._1)

  /** Support-mined canonical vocabulary (extract_vocab, llm.py:429-470).
    *
    * The distributed half counts normalized GROUP/REL labels; the fuzzy
    * merge runs on the driver over the (small) distinct-label set. The
    * reference's merge is insertion-order dependent; this one processes
    * labels by descending count (then name) so it is deterministic.
    */
  def extractVocab(
      forest: Dataset[TreeRow],
      minSupport: Int,
      minSimilarity: Double,
      closeMatch: Int = 3,
  ): Set[String] = {
    import forest.sparkSession.implicits._
    val counts: Seq[(String, Long)] = forest
      .flatMap { row =>
        row.tree.subtrees.collect {
          case t if t.hasType(NodeType.Group) || t.hasType(NodeType.Rel) =>
            normalize(t.label.name)
        }.filter(_.nonEmpty)
      }
      .groupByKey(identity).count().collect().toSeq

    val canonical = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    counts.sortBy { case (l, c) => (-c, l) }.foreach { case (label, cnt) =>
      val matches = closeMatches(label, canonical.keys, closeMatch, minSimilarity)
      val target = if (matches.isEmpty) label else matches.maxBy(canonical)
      canonical.update(target, canonical.getOrElse(target, 0L) + cnt)
    }
    canonical.collect { case (label, cnt) if cnt >= minSupport => label }.toSet
  }

  /** Sanitize an LLM answer (llm.py:142-162): wrap under ROOT carrying
    * the original tree's oid, and relabel — bottom-up — any GROUP whose
    * children are not all ENT, or REL without exactly two GROUP children,
    * as `UNDEF_<oid>`.
    */
  def sanitize(tree: ArchiTree, oid: String): ArchiTree = {
    def fix(t: ArchiTree, path: Vector[Int]): ArchiTree = {
      val kids = t.children.zipWithIndex.map {
        case (Child.Node(c), i) => Child.Node(fix(c, path :+ i)): Child
        case (leaf, _)          => leaf
      }
      val fixed = t.copy(children = kids)
      val invalidGroup =
        fixed.hasType(NodeType.Group) && !fixed.childTrees.forall(_.hasType(NodeType.Ent))
      val invalidRel = fixed.hasType(NodeType.Rel) &&
        (fixed.childTrees.size != 2 || fixed.children.size != 2 ||
          !fixed.childTrees.forall(_.hasType(NodeType.Group)))
      if (invalidGroup || invalidRel) {
        val id = if (fixed.oid.nonEmpty) fixed.oid
                 else ArchiTree.deterministicOid(oid, path.mkString("."))
        fixed.copy(label = Plain(s"UNDEF_$id"))
      } else fixed
    }
    val children =
      if (tree.isTyped) Vector(Child.Node(tree): Child)
      else tree.children
    val root = ArchiTree(Plain("ROOT"), children, oid)
    root.copy(children = root.children.zipWithIndex.map {
      case (Child.Node(c), i) => Child.Node(fix(c, Vector(i))): Child
      case (leaf, _)          => leaf
    })
  }

  /** Snap GROUP/REL labels onto the canonical vocabulary
    * (_fix_vocab, llm.py:164-181).
    */
  def fixVocab(tree: ArchiTree, vocab: Set[String], similarity: Double = 0.6): ArchiTree = {
    def go(t: ArchiTree): ArchiTree = {
      val kids = t.children.map {
        case Child.Node(c) => Child.Node(go(c)): Child
        case leaf          => leaf
      }
      val relabelled = t.label match {
        case Typed(tpe @ (NodeType.Group | NodeType.Rel), name) =>
          val norm = normalize(name)
          if (norm.isEmpty) t.label
          else closeMatches(norm, vocab, 1, similarity) match {
            case best +: _ => Typed(tpe, best)
            case _         => t.label
          }
        case other => other
      }
      t.copy(label = relabelled, children = kids)
    }
    go(tree)
  }

  /** Parse one raw answer into a tree, falling back to the original on
    * any failure (_parse_tree_output, llm.py:185-238). Minimal repair:
    * the JSON object is extracted between the first '{' and last '}' (a
    * fenced or chatter-wrapped answer still parses); anything else is a
    * fallback, never an error.
    */
  def parseTreeOutput(
      raw: String,
      fallback: ArchiTree,
      vocab: Set[String],
      vocabSimilarity: Double = 0.6,
  ): (ArchiTree, Boolean) = {
    val attempt = scala.util.Try {
      val start = raw.indexOf('{')
      val end = raw.lastIndexOf('}')
      require(start >= 0 && end > start, "no JSON object in output")
      val parsed = TreeJson.fromJson(raw.substring(start, end + 1))
      val sane = sanitize(parsed, fallback.oid)
      if (vocab.nonEmpty) fixVocab(sane, vocab, vocabSimilarity) else sane
    }
    attempt.toOption match {
      case Some(t) => (t, t != fallback)
      case None    => (fallback, false)
    }
  }

  final case class Config(
      maxTokens: Int = 4096,
      refiningSteps: Int = 0,
      minSupport: Option[Int] = None,
      vocabSimilarity: Double = 0.6,
  )

  /** The llm_rewrite driver loop (llm.py:484-598): per step, mine the
    * vocabulary, then simplify every tree through the client with
    * fallback-to-original semantics. Returns the rewritten forest.
    */
  def rewrite(forest: Dataset[TreeRow], client: LlmClient, config: Config = Config()): Dataset[TreeRow] = {
    import forest.sparkSession.implicits._
    var current = forest
    val steps = config.refiningSteps + 1
    val minSupport = config.minSupport.getOrElse(math.max((forest.count() / 20).toInt, 2))

    for (_ <- 0 until steps) {
      val vocab = extractVocab(current, minSupport, config.vocabSimilarity)
      val vocabSorted = vocab.toSeq.sorted
      val cfg = config
      current = current.mapPartitions { rows =>
        // batch by prompt budget, one completion per batch; each item's
        // JSON is the prompt payload AND the token measure, so it is
        // serialized once
        val queue = rows.map { r =>
          val json = TreeJson.toJson(r.tree)
          (r, json, client.countTokens(json))
        }.buffered
        new Iterator[Seq[TreeRow]] {
          def hasNext: Boolean = queue.hasNext
          def next(): Seq[TreeRow] = {
            val batch = Vector.newBuilder[(TreeRow, String)]
            var size = 0
            var n = 0
            while (queue.hasNext && (n == 0 || size + queue.head._3 <= cfg.maxTokens)) {
              val (row, json, len) = queue.next()
              size += len
              n += 1
              batch += ((row, json))
            }
            val items = batch.result()
            val numbered = items.zipWithIndex
              .map { case ((_, json), i) => s"${i + 1}. $json" }
              .mkString("\n\n")
            val answers =
              try parseNumberedItems(client.complete(promptFor(vocabSorted, numbered)))
              catch { case scala.util.control.NonFatal(_) => Map.empty[Int, String] }
            items.zipWithIndex.map { case ((row, _), i) =>
              // keyed by item number: a skipped answer falls back to the
              // ORIGINAL row, never to a neighboring tree's answer
              answers.get(i + 1) match {
                case None => row
                case Some(raw) =>
                  val (out, changed) = parseTreeOutput(raw, row.tree, vocab, cfg.vocabSimilarity)
                  if (changed) TreeRow(row.treeId, out) else row
              }
            }
          }
        }.flatten
      }
      current = graft.util.Spark.checkpoint(current)
    }
    current
  }
}
