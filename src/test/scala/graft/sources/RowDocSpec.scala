package graft.sources

import org.scalatest.funsuite.AnyFunSuite

class RowDocSpec extends AnyFunSuite {

  private val fields = new Fields(Array("a", "b", "c"))
  private val doc = new RowDoc(fields, Array[Any](1L, null, "x"))
  private val same: Map[String, Any] =
    scala.collection.immutable.HashMap("c" -> "x", "a" -> 1L, "b" -> null)

  test("get, apply, contains and getOrElse are field lookups") {
    assert(doc.get("a") == Some(1L))
    assert(doc.get("b") == Some(null), "a null value is present, not absent")
    assert(doc.get("z") == None)
    assert(doc("c") == "x")
    assertThrows[NoSuchElementException](doc("z"))
    assert(doc.contains("b") && !doc.contains("z"))
    assert(doc.getOrElse("b", "dflt") == null)
    assert(doc.getOrElse("z", "dflt") == "dflt")
    assert(doc.size == 3 && doc.knownSize == 3 && !doc.isEmpty)
  }

  test("iteration follows the field order") {
    assert(doc.toSeq == Seq("a" -> 1L, "b" -> null, "c" -> "x"))
    assert(doc.keysIterator.toSeq == Seq("a", "b", "c"))
    assert(doc.valuesIterator.toSeq == Seq(1L, null, "x"))
  }

  test("equals and hashCode match a HashMap with the same entries") {
    assert(doc == same && same == doc)
    assert(doc.hashCode == same.hashCode)
    assert(doc != same.updated("a", 2L))
    assert(doc != same.removed("c"))
    assert(doc == new RowDoc(fields, Array[Any](1L, null, "x")))
  }

  test("removed and updated return plain maps in field order") {
    val r = doc.removed("b")
    assert(!r.isInstanceOf[RowDoc])
    assert(r.toSeq == Seq("a" -> 1L, "c" -> "x"))
    assert(doc - "z" == doc)
    val u = doc.updated("b", 7L) + ("d" -> true)
    assert(u.toSeq == Seq("a" -> 1L, "b" -> 7L, "c" -> "x", "d" -> true))
    assert(doc("b") == null, "the document itself is unchanged")
  }

  test("a repeated name is one key: first position, last value") {
    val d = new RowDoc(new Fields(Array("k", "v", "k")), Array[Any](1L, 2L, 3L))
    assert(d.size == 2)
    assert(d.toSeq == Seq("k" -> 3L, "v" -> 2L))
    assert(d == Map("k" -> 3L, "v" -> 2L))
  }

  test("the value array must fit the fields") {
    assertThrows[IllegalArgumentException](new RowDoc(fields, Array[Any](1L)))
  }

  test("serializes with one shared Fields per stream") {
    val docs = Vector(doc, new RowDoc(fields, Array[Any](2L, "y", null)))
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(docs)
    out.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[Vector[RowDoc]]
    assert(back == docs)
    assert(back(0).fields eq back(1).fields)
    assert(back(0).get("c") == Some("x"))
  }

  private def freshSink(name: String): DocumentSink = {
    InMemorySink.clear(name)
    InMemorySink(name)
  }

  test("upsert keys: a separator inside a PK value does not merge two keys") {
    val s = freshSink("t_key_sep")
    assert(s.bulkUpsert(Seq("p", "q"), Seq(
      Map("p" -> "a b", "q" -> "c"), Map("p" -> "a", "q" -> "b c"),
      Map("p" -> "a\u0000b", "q" -> "c"), Map("p" -> "a", "q" -> "b\u0000c"))) == ((4, 0)))
    assert(s.count() == 4)
  }

  test("upsert keys: a null PK is not the string \"null\"") {
    val s = freshSink("t_key_null")
    assert(s.bulkUpsert(Seq("p"), Seq(Map("p" -> null), Map("p" -> "null"))) == ((2, 0)))
    assert(s.bulkUpsert(Seq("p"), Seq(Map("p" -> null, "v" -> 1L))) == ((0, 1)))
    assert(s.drain() == Seq(Map("p" -> null, "v" -> 1L), Map("p" -> "null")))
  }

  test("upsert keys: a NaN PK replaces its own document on a re-run") {
    val s = freshSink("t_key_nan")
    assert(s.bulkUpsert(Seq("p"), Seq(Map("p" -> Double.NaN))) == ((1, 0)))
    assert(s.bulkUpsert(Seq("p"), Seq(Map("p" -> Double.NaN))) == ((0, 1)))
    assert(s.count() == 1)
  }

  test("upsert keys: an upserted PK never replaces an insertMany document") {
    val s = freshSink("t_key_auto")
    s.insertMany(Seq(Map("p" -> 1L), Map("p" -> 2L), Map("p" -> 3L)))
    assert(s.bulkUpsert(Seq("p"), Seq(Map("p" -> "auto-3"))) == ((1, 0)))
    assert(s.drain().map(_("p")) == Seq(1L, 2L, 3L, "auto-3"))
    // the same PK values still replace in place
    assert(s.bulkUpsert(Seq("p"), Seq(Map("p" -> "auto-3", "v" -> 1L))) == ((0, 1)))
    assert(s.drain().last == Map("p" -> "auto-3", "v" -> 1L))
  }

  test("the DSv2 document writer shares one Fields per struct field and keeps field order") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types._
    val inner = StructType(Seq(StructField("y", IntegerType), StructField("x", StringType)))
    val schema = StructType(Seq(StructField("z", LongType), StructField("in", inner),
      StructField("arr", ArrayType(inner)), StructField("m", MapType(StringType, inner))))
    def row(s: StructType, vs: Any*): Row = new GenericRowWithSchema(vs.toArray, s)
    val toDoc = DocumentWriteV2.docWriter(schema)
    val a = toDoc(row(schema, 1L, row(inner, 2, "a"), Seq(row(inner, 3, "b")),
      Map("k" -> row(inner, 4, "c")))).asInstanceOf[RowDoc]
    val b = toDoc(row(schema, 5L, null, Seq.empty, Map.empty)).asInstanceOf[RowDoc]
    val c = toDoc(row(schema, 6L, row(inner, 7, "d"), Seq(row(inner, 8, "e"), row(inner, 9, "f")),
      Map.empty)).asInstanceOf[RowDoc]
    def fieldsOf(d: Any) = d.asInstanceOf[RowDoc].fields
    assert((a.fields eq b.fields) && (a.fields eq c.fields))
    assert(fieldsOf(a("in")) eq fieldsOf(c("in")))
    val elems = (a("arr").asInstanceOf[Seq[Any]] ++ c("arr").asInstanceOf[Seq[Any]]).map(fieldsOf)
    assert(elems.forall(_ eq elems.head))
    assert(a("in") == Map("y" -> 2L, "x" -> "a"))
    assert(JsonlStore.toJsonLine(a) ==
      """{"z":1,"in":{"y":2,"x":"a"},"arr":[{"y":3,"x":"b"}],"m":{"k":{"y":4,"x":"c"}}}""")
    assert(b == Map("z" -> 5L, "in" -> null, "arr" -> Seq.empty, "m" -> Map.empty))
  }
}
