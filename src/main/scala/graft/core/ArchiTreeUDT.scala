package graft.core

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Spark SQL type of [[ArchiTree]], the one in-engine encoding of a
  * forest row's tree: the tree in pre-order as a struct of parallel
  * arrays, one entry per node or string leaf —
  *
  *   - `leaf`      true for a string leaf, false for a node
  *   - `nChildren` direct child count (0 for leaves)
  *   - `nodeType`  ENT / GROUP / REL / COLL, null for plain labels and leaves
  *   - `text`      a node's label name, a leaf's text
  *   - `oid`       null when empty
  *   - `metadata`  null when empty
  *
  * A node's entry is followed by its children's, each child's subtree
  * complete before the next child, so the child counts alone rebuild
  * the nesting.
  */
class ArchiTreeUDT extends UserDefinedType[ArchiTree] {

  override val sqlType: StructType = StructType(Seq(
    StructField("leaf", ArrayType(BooleanType, containsNull = false), nullable = false),
    StructField("nChildren", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("nodeType", ArrayType(StringType), nullable = false),
    StructField("text", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("oid", ArrayType(StringType), nullable = false),
    StructField("metadata", ArrayType(MapType(StringType, StringType, valueContainsNull = false)),
      nullable = false)))

  override def userClass: Class[ArchiTree] = classOf[ArchiTree]

  override def serialize(tree: ArchiTree): InternalRow = {
    def size(t: ArchiTree): Int = t.children.foldLeft(1) {
      case (n, Child.Leaf(_)) => n + 1
      case (n, Child.Node(c)) => n + size(c)
    }
    val n = size(tree)
    val leaf = new Array[Boolean](n)
    val nChildren = new Array[Int](n)
    val Seq(nodeType, text, oid, metadata) = Seq.fill(4)(new Array[Any](n))
    def utf8(s: String) = UTF8String.fromString(s)
    var i = 0
    def go(t: ArchiTree): Unit = {
      val k = i
      i += 1
      nChildren(k) = t.children.size
      t.label.nodeType.foreach(tpe => nodeType(k) = utf8(tpe.value))
      text(k) = utf8(t.label.name)
      if (t.oid.nonEmpty) oid(k) = utf8(t.oid)
      if (t.metadata.nonEmpty) {
        val (ks, vs) = t.metadata.toArray.unzip
        metadata(k) = ArrayBasedMapData(ks.map(utf8), vs.map(utf8))
      }
      t.children.foreach {
        case Child.Leaf(v) =>
          leaf(i) = true
          text(i) = utf8(v)
          i += 1
        case Child.Node(c) => go(c)
      }
    }
    go(tree)
    new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(leaf), UnsafeArrayData.fromPrimitiveArray(nChildren),
      new GenericArrayData(nodeType), new GenericArrayData(text),
      new GenericArrayData(oid), new GenericArrayData(metadata)))
  }

  override def deserialize(datum: Any): ArchiTree = {
    val row = datum.asInstanceOf[InternalRow]
    val Seq(leaf, nChildren, nodeType, text, oid, metadata) = (0 until 6).map(row.getArray)
    def str(a: ArrayData, k: Int): String = a.getUTF8String(k).toString
    var i = 0
    def node(): ArchiTree = {
      val k = i
      i += 1
      val name = str(text, k)
      val label =
        if (nodeType.isNullAt(k)) Plain(name)
        else NodeType.fromString(str(nodeType, k)).fold[Label](Plain(name))(Typed(_, name))
      val children = Vector.newBuilder[Child]
      for (_ <- 0 until nChildren.getInt(k)) {
        if (leaf.getBoolean(i)) {
          children += Child.Leaf(str(text, i))
          i += 1
        } else children += Child.Node(node())
      }
      val meta =
        if (metadata.isNullAt(k)) Map.empty[String, String]
        else {
          val m = metadata.getMap(k)
          (0 until m.numElements()).map(j => str(m.keyArray(), j) -> str(m.valueArray(), j)).toMap
        }
      ArchiTree(label, children.result(), if (oid.isNullAt(k)) "" else str(oid, k), meta)
    }
    node()
  }
}
