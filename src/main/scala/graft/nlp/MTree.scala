package graft.nlp

import graft.core._

import scala.collection.mutable.ArrayBuffer

/** Minimal mutable parented tree used ONLY inside per-row NLP rewrites —
  * a faithful working copy of the reference's NLTK-style Tree
  * (architxt/tree.py:97-236) so the heavily mutation-based enrichment
  * algorithms translate literally. Conversion to/from the immutable
  * [[ArchiTree]] happens at the row boundary; Spark never sees MTree.
  */
final class MTree(
    var label: String,
    val children: ArrayBuffer[Either[String, MTree]] = ArrayBuffer.empty,
    var metadata: Map[String, String] = Map.empty) {

  var parent: MTree = _
  children.foreach { case Right(t) => t.parent = this; case _ => }

  def parentIndex: Int = parent.children.indexWhere {
    case Right(t) => t eq this
    case _        => false
  }

  def size: Int = children.size
  def child(i: Int): Either[String, MTree] = children(i)

  def insert(i: Int, c: Either[String, MTree]): Unit = {
    c.foreach(_.parent = this)
    children.insert(i, c)
  }

  def removeAt(i: Int): Either[String, MTree] = {
    val c = children.remove(i)
    c.foreach(t => if (t.parent eq this) t.parent = null)
    c
  }

  /** Reference `remove` defaults recursive=True (tree.py:1028-1046): a
    * node emptied by the removal is itself removed from its parent.
    */
  def remove(t: MTree): Unit = {
    val i = children.indexWhere { case Right(x) => x eq t; case _ => false }
    if (i >= 0) {
      removeAt(i)
      if (children.isEmpty && parent != null) parent.remove(this)
    }
  }

  def setChild(i: Int, c: Either[String, MTree]): Unit = {
    children(i).foreach(t => if (t.parent eq this) t.parent = null)
    c.foreach(_.parent = this)
    children(i) = c
  }

  def apply(pos: Seq[Int]): Either[String, MTree] =
    pos.foldLeft(Right(this): Either[String, MTree]) {
      case (Right(t), i) => t.children(i)
      case (l, _)        => l
    }

  def node(pos: Seq[Int]): MTree = apply(pos).toOption.get

  def leaves: Vector[String] = {
    val out = Vector.newBuilder[String]
    def go(t: MTree): Unit = t.children.foreach {
      case Left(s)  => out += s
      case Right(c) => go(c)
    }
    go(this)
    out.result()
  }

  /** All positions, pre-order, leaves included (tree.py:430-457). */
  def positions: Vector[Vector[Int]] = {
    val out = Vector.newBuilder[Vector[Int]]
    def go(t: MTree, prefix: Vector[Int]): Unit = {
      out += prefix
      t.children.zipWithIndex.foreach {
        case (Right(c), i) => go(c, prefix :+ i)
        case (Left(_), i)  => out += (prefix :+ i)
      }
    }
    go(this, Vector.empty)
    out.result()
  }

  /** Leaf positions relative to this node, left to right. */
  def leafPositions: Vector[Vector[Int]] = {
    val out = Vector.newBuilder[Vector[Int]]
    def go(t: MTree, prefix: Vector[Int]): Unit =
      t.children.zipWithIndex.foreach {
        case (Right(c), i) => go(c, prefix :+ i)
        case (Left(_), i)  => out += (prefix :+ i)
      }
    go(this, Vector.empty)
    out.result()
  }

  def leafPosition(index: Int): Vector[Int] = leafPositions(index)

  /** Pre-order subtrees (this included). Snapshot — safe to mutate while
    * iterating the returned vector, like the reference's list() wrap.
    */
  def subtrees: Vector[MTree] = {
    val out = Vector.newBuilder[MTree]
    def go(t: MTree): Unit = { out += t; t.children.foreach { case Right(c) => go(c); case _ => } }
    go(this)
    out.result()
  }

  def height: Int =
    1 + (if (children.isEmpty) 0
         else children.map { case Left(_) => 1; case Right(t) => t.height }.max)

  def labelObj: Label = Label.parse(label)
  def hasType(t: NodeType): Boolean = labelObj.hasType(t)
  def isTyped: Boolean = labelObj.isTyped

  def copyTree(): MTree = {
    val c = new MTree(label, ArrayBuffer.from(children.map {
      case Left(s)  => Left(s): Either[String, MTree]
      case Right(t) => Right(t.copyTree())
    }), metadata)
    c.children.foreach { case Right(t) => t.parent = c; case _ => }
    c
  }

  def toArchi: ArchiTree =
    ArchiTree(labelObj, children.toVector.map {
      case Left(s)  => Child.Leaf(s)
      case Right(t) => Child.Node(t.toArchi)
    }, metadata = metadata)

  override def toString: String = SExpr.format(toArchi)
}

object MTree {
  def from(t: ArchiTree): MTree = {
    val m = new MTree(t.label.render, ArrayBuffer.from(t.children.map {
      case Child.Leaf(s) => Left(s): Either[String, MTree]
      case Child.Node(c) => Right(from(c))
    }), t.metadata)
    m.children.foreach { case Right(c) => c.parent = m; case _ => }
    m
  }

  def parse(s: String): MTree = from(SExpr.parse(s))
}
