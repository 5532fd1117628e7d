package graft.nlp

import graft.SparkSpec
import graft.core.{Child, TreeJson}
import org.scalatest.funsuite.AnyFunSuite

/** The real-model backend behind the SentenceParser seam: an MLlib
  * multinomial logistic regression tagger (reference analogue:
  * nlp/parser/corenlp.py:19-45 / benepar.py:49-87 plug trained models
  * into the same ABC).
  */
class MlTaggerSpec extends AnyFunSuite with SparkSpec {

  private lazy val model = MlTagger.train(spark)

  test("trained model memorizes the dictionary exactly (separable vocab)") {
    MlTagger.Dictionary.foreach { case (w, want) =>
      assert(model.tag(w) == want, s"word $w")
    }
  }

  test("dictionary predictions carry a real margin (oracle-join safety)") {
    // the ml_tag_documents oracle replays predictions as a dictionary
    // join; that is only safe if no in-vocab word is a numerical
    // near-tie. Require a healthy logit gap on every corpus word.
    MlTagger.Dictionary.foreach { case (w, want) =>
      val sc = model.scores(w).sorted.reverse
      assert(sc(0) - sc(1) > 1.0, s"margin for $w: ${sc(0) - sc(1)}")
      assert(model.tag(w) == want)
    }
  }

  test("suffix features generalize off-vocabulary") {
    // unseen words whose suffixes were trained: -ing → VERB, -s nouns
    assert(model.tag("splitting") == "VERB")
    assert(model.tag("parts") == "NOUN")
  }

  test("chunk parse builds NP/VP constituents from model tags") {
    val p = new MlTagParser(model)
    val t = p.parse("the fast scan sort a big table", "English").get
    // the+fast start an NP candidate but 'scan' is VERB → bare toks;
    // scan+sort → VP; a+big+table → NP
    val labels = t.children.collect { case Child.Node(c) => c.label.toString }
    assert(labels == Vector("TOK", "TOK", "VP", "NP"))
    assert(TreeJson.toJson(t).contains("VP"))
  }

  test("parseBatch drives the MLlib backend through the distributed seam") {
    import spark.implicits._
    val sentences = Seq(
      AnnotatedSentence("the customer table", Seq(Entity("CUST", 4, 12, "c0", "customer")), Nil),
      // entity-less sentences die in processTree, like the reference's
      // per-sentence error handling
      AnnotatedSentence("scan the big table", Nil, Nil),
      AnnotatedSentence("scan the customer row", Seq(Entity("CUST", 9, 17, "c1", "customer")), Nil),
    ).toDS()
    val forest = new MlTagParser(model).parseBatch(sentences)
    val rows = forest.collect()
    assert(rows.length == 2)
    assert(rows.forall(r => TreeJson.toJson(r.tree).contains("CUST")))
  }
}
