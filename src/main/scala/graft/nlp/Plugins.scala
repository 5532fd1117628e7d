package graft.nlp

import graft.core.{ArchiTree, Child, Plain}
import graft.model.TreeRow
import org.apache.spark.sql.Dataset

/** Plug-in seams for the NLP pipeline, mirroring the reference's ABCs
  * (nlp/parser/__init__.py:24 `Parser`, nlp/entity_extractor.py:16
  * `EntityExtractor`, nlp/entity_resolver.py:19 `EntityResolver`) the
  * same way `LlmClient` seams the LLM protocol: the heavyweight backends
  * (CoreNLP, benepar, spaCy/Flair NER, UMLS resolvers) are env-absent
  * here, but the contract and the distributed batch plumbing are real,
  * so a deployment drops in an implementation without touching the
  * pipeline.
  *
  * Spark-first shape: the reference's aiostream task pipelines become
  * per-partition batched iteration — `parse_batch(batch_size=128)` is a
  * `grouped(batchSize)` inside `mapPartitions`, which is where a remote
  * parser would amortize its round trips.
  */
trait SentenceParser extends Serializable {

  def name: String = getClass.getSimpleName

  /** Parse ONE sentence into a constituency tree whose leaves are the
    * sentence's tokens. None when the backend cannot parse it.
    */
  def parse(sentence: String, language: String): Option[ArchiTree]

  /** Batch hook (parser/__init__.py:33-39 `parse_batch`): backends with
    * a bulk endpoint override this; the default delegates per sentence.
    */
  def parseMany(sentences: Seq[String], language: String): Seq[Option[ArchiTree]] =
    sentences.map(parse(_, language))

  /** The full reference pipeline, distributed: parse each annotated
    * sentence, then enrich + normalize through `NlpOps.processTree`
    * (coordination fixes, entity insertion, reduce, UNDEF renames).
    * Sentences the parser or the enrichment rejects are dropped, like
    * the reference's per-sentence error handling.
    */
  def parseBatch(
      sentences: Dataset[AnnotatedSentence],
      language: String = "English",
      batchSize: Int = 128,
  ): Dataset[TreeRow] = {
    val spark = sentences.sparkSession
    import spark.implicits._
    val self = this
    sentences.rdd.zipWithIndex().mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val parsed = self.parseMany(batch.map(_._1.txt), language)
        batch.iterator.zip(parsed.iterator).flatMap { case ((sentence, idx), treeOpt) =>
          treeOpt.flatMap(t => NlpOps.processTree(sentence, t))
            .map(t => TreeRow(idx, t))
        }
      }
    }.toDS()
  }
}

/** Entity extraction seam (entity_extractor.py:16): one sentence of raw
  * text in, an `AnnotatedSentence` out.
  */
trait EntityExtractor extends Serializable {

  def name: String = getClass.getSimpleName

  def extract(sentence: String): AnnotatedSentence

  /** `enrich` (entity_extractor.py:34-47): append this extractor's
    * entities to already-annotated sentences, distributed.
    */
  def enrich(sentences: Dataset[AnnotatedSentence]): Dataset[AnnotatedSentence] = {
    val spark = sentences.sparkSession
    import spark.implicits._
    val self = this
    sentences.map(s => s.copy(entities = s.entities ++ self.extract(s.txt).entities))
  }
}

/** Entity resolution seam (entity_resolver.py:19): canonicalize entity
  * values/names (the reference plugs UMLS/ScispaCy linkers here).
  */
trait EntityResolver extends Serializable {

  def name: String = getClass.getSimpleName

  def resolve(entity: Entity): Entity

  /** `batch_sentences`: resolve every entity of every sentence. */
  def resolveSentences(sentences: Dataset[AnnotatedSentence]): Dataset[AnnotatedSentence] = {
    val spark = sentences.sparkSession
    import spark.implicits._
    val self = this
    sentences.map(s => s.copy(entities = s.entities.map(self.resolve)))
  }
}

/** Deterministic env-free parser: a flat (SENT tok tok …) constituency
  * tree over whitespace tokens — the structural floor every real parser
  * refines, and enough for `processTree`'s enrichment to anchor entity
  * spans. Stands in where the reference would call CoreNLP/benepar.
  */
final class WhitespaceParser extends SentenceParser {
  override def parse(sentence: String, language: String): Option[ArchiTree] = {
    val toks = sentence.split("\\s+").filter(_.nonEmpty)
    Option.when(toks.nonEmpty)(
      ArchiTree(Plain("SENT"), toks.toVector.map(t =>
        Child.Node(ArchiTree(Plain("TOK"), Vector(Child.Leaf(t)))): Child)))
  }
}

/** Deterministic env-free parser that emits COORDINATION structure — the
  * shape `fix_coord`/`fix_conj` (reference nlp/parser/__init__.py:247-407)
  * exist to normalize. Tokens are split into segments on a designated
  * conjunction token; segments become right-nested
  * `(NP seg₀ (COORD (CCONJ c) (NP seg₁ (COORD …))))` — the constituency
  * idiom real parsers produce for "a and b and c". `fixAllCoord` then
  * rewrites it to one flat `(CONJ (NP seg₀) (NP seg₁) …)`, dropping the
  * CCONJ leaves. Degenerate splits (an empty segment: leading/trailing/
  * adjacent conjunctions) fall back to the flat [[WhitespaceParser]]
  * shape, so every emitted COORD is well-formed and the restructuring
  * arithmetic stays predictable by a SQL oracle.
  */
final class CoordinationParser(conj: String = "the") extends SentenceParser {
  override def parse(sentence: String, language: String): Option[ArchiTree] = {
    val toks = sentence.split("\\s+").filter(_.nonEmpty).toVector
    if (toks.isEmpty) return None
    def tok(t: String): Child = Child.Node(ArchiTree(Plain("TOK"), Vector(Child.Leaf(t))))
    val segs = {
      val out = Vector.newBuilder[Vector[String]]
      var cur = Vector.newBuilder[String]
      toks.foreach { t =>
        if (t == conj) { out += cur.result(); cur = Vector.newBuilder[String] }
        else cur += t
      }
      out += cur.result()
      out.result()
    }
    if (segs.size < 2 || segs.exists(_.isEmpty))
      Some(ArchiTree(Plain("SENT"), toks.map(tok)))
    else {
      def build(i: Int): ArchiTree =
        if (i == segs.size - 1) ArchiTree(Plain("NP"), segs(i).map(tok))
        else ArchiTree(Plain("NP"), segs(i).map(tok) :+ (Child.Node(ArchiTree(Plain("COORD"), Vector(
          Child.Node(ArchiTree(Plain("CCONJ"), Vector(Child.Leaf(conj)))),
          Child.Node(build(i + 1))))): Child))
      Some(ArchiTree(Plain("SENT"), Vector(Child.Node(build(0)))))
    }
  }
}

/** Pattern-driven extractor: (entity name → regex) pairs, first match
  * wins per span. Env-free stand-in for model NER with the same output
  * contract (character offsets into the sentence).
  */
final class RegexEntityExtractor(patterns: Seq[(String, String)]) extends EntityExtractor {
  @transient private lazy val compiled = patterns.map { case (n, p) => (n, p.r) }

  override def extract(sentence: String): AnnotatedSentence = {
    val taken = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val ents = compiled.flatMap { case (entName, re) =>
      re.findAllMatchIn(sentence).flatMap { m =>
        val overlaps = taken.exists { case (s, e) => m.start < e && s < m.end }
        if (overlaps) None
        else {
          taken += ((m.start, m.end))
          Some(Entity(entName, m.start, m.end, s"$entName-${m.start}", m.matched))
        }
      }
    }
    AnnotatedSentence(sentence, ents.sortBy(_.start), Seq.empty)
  }
}

/** Dictionary resolver: canonical value lookup (case-insensitive), the
  * same contract a UMLS/knowledge-base linker fills in the reference.
  */
final class DictionaryEntityResolver(canonical: Map[String, String]) extends EntityResolver {
  private val lower = canonical.map { case (k, v) => k.toLowerCase -> v }
  override def resolve(entity: Entity): Entity =
    lower.get(entity.value.toLowerCase).fold(entity)(v => entity.copy(value = v))
}
