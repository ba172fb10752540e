package graft.exec

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Hll

/** Round-trip + merge-interop tests for the application/hll binary format
  * ([[RefHllWire]]).
  */
class HllWireSpec extends AnyFunSuite {

  private def sketchOf(values: Seq[Long]): Array[Byte] = {
    val regs = new Array[Byte](Hll.M)
    values.foreach(v => Hll.insert(regs, Hll.hashAny(v, org.apache.spark.sql.types.LongType)))
    regs
  }

  private val Int64 = 0x000d0040L

  private def block(bytes: Array[Byte]): RefHllWire.RefBlock =
    RefHllWire.readResults(bytes) match {
      case Seq(Right(b)) => b
      case other => fail(s"expected one result block, got $other")
    }

  test("sparse and dense rows round-trip bit-for-bit") {
    val rnd = new Random(42)
    val sparse = sketchOf(Seq.tabulate(100)(_ => rnd.nextLong())) // ~100 regs -> sparse
    val dense = sketchOf(Seq.tabulate(40000)(_ => rnd.nextLong())) // >4096 regs -> dense
    val rows = Seq(
      Seq(Some(1L), Some(-10L)) -> sparse,
      Seq(Some(2L), None) -> dense)

    // a 4-byte and an 8-byte dim: the wider one takes slot 0
    val back = block(RefHllWire.encode(rows, Seq(RefHllWire.Uint32, Int64)))

    assert(back.dataTypes == Seq(RefHllWire.Uint32, Int64))
    assert(back.numDimsPerDimWidth == Seq(0, 1, 1, 0, 0))
    assert(back.dimIndexes == Seq(1, 0))
    assert(back.rows.length == 2)
    assert(back.rows(0).dims == Seq(Some(1L), Some(-10L)))
    assert(back.rows(1).dims == Seq(Some(2L), None))
    assert(back.rows(0).storedCount < RefHllWire.DenseThreshold)
    assert(back.rows(1).storedCount >= RefHllWire.DenseThreshold)
    assert(back.rows(0).registers.toSeq == sparse.toSeq)
    assert(back.rows(1).registers.toSeq == dense.toSeq)
    assert(back.estimates == Seq(Hll.estimate(sparse), Hll.estimate(dense)))
  }

  test("magic header enforced") {
    val bytes = RefHllWire.encode(Seq(Seq(Some(1L)) -> sketchOf(Seq(1, 2, 3))),
      Seq(RefHllWire.Uint32))
    assert(java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt() == 0xACED0102)
    bytes(0) = 0x00
    intercept[IllegalArgumentException](RefHllWire.readResults(bytes))
  }

  test("string-dim dictionaries round-trip through the dictionary section") {
    val rows = Seq(
      Seq(Some("view"), Some(5L)) -> sketchOf(Seq(1, 2)),
      Seq(Some("click"), None) -> sketchOf(Seq(3)),
      Seq(None, Some(7L)) -> sketchOf(Seq(8)),
      Seq(Some("purchase"), Some(7L)) -> sketchOf(Seq(4, 5, 6)))
    val back = block(RefHllWire.encode(rows, Seq(RefHllWire.Uint32, RefHllWire.Uint32)))
    assert(back.enumDicts == Map(0 -> Seq("click", "purchase", "view")))
    assert(back.dataTypes == Seq(RefHllWire.SmallEnum, RefHllWire.Uint32))
    assert(back.dimString(0, 0).contains("view"))
    assert(back.dimString(1, 0).contains("click"))
    assert(back.dimString(2, 0).isEmpty)        // null enum dim stays null
    assert(back.dimString(3, 0).contains("purchase"))
    assert(back.dimString(0, 1).contains("5")) // numeric dim unaffected
    assert(back.dimString(1, 1).isEmpty)       // null stays null
    assert(back.rows.map(_.registers.toSeq) == rows.map(_._2.toSeq))
  }

  test("more than 256 distinct strings encode as BigEnum and decode back") {
    val names = Seq.tabulate(300)(i => f"user-$i%03d").reverse
    val rows = names.zipWithIndex.map { case (s, i) => Seq(Some(s)) -> sketchOf(Seq(i.toLong)) }
    val back = block(RefHllWire.encode(rows, Seq(RefHllWire.Uint32)))
    assert(back.dataTypes == Seq(0x00090010L))
    assert(back.numDimsPerDimWidth == Seq(0, 0, 0, 1, 0))
    assert(back.rows.indices.map(r => back.dimString(r, 0).get) == names)
    assert(back.rows.map(_.registers.toSeq) == rows.map(_._2.toSeq))
  }

  test("deserialized sketches merge to the same estimate as a direct union sketch") {
    val a = Seq.tabulate(5000)(i => i.toLong)
    val b = Seq.tabulate(5000)(i => (i + 2500).toLong)
    val bytes = RefHllWire.encode(Seq(
      Seq(Some(1L)) -> sketchOf(a),
      Seq(Some(2L)) -> sketchOf(b)), Seq(RefHllWire.Uint32))
    val back = block(bytes)

    val merged = back.rows(0).registers.clone()
    Hll.mergeInto(merged, back.rows(1).registers)
    val direct = sketchOf(a ++ b)
    assert(merged.toSeq == direct.toSeq)
    assert(Hll.estimate(merged) == Hll.estimate(direct))

    // the broker's merge of two partials keyed on the same decoded dims
    // (each partial with its own local dictionary) is the same union
    def partial(values: Seq[Long]) =
      RefHllWire.encode(Seq(Seq(Some("k")) -> sketchOf(values)), Seq(RefHllWire.Uint32))
    val (types, rows) = RefHllWire.merge(Seq(partial(a), partial(b)))
    assert(types == Seq(RefHllWire.SmallEnum))
    assert(rows.map(_._1) == Seq(Seq(Some("k"))))
    assert(rows.head._2.toSeq == direct.toSeq)
  }

  // ---- reference golden fixtures (RefHllWire) -----------------------------

  private def golden(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"/root/reference/testing/data/query/$name"))

  test("reference golden hll_query_results: decode matches hll_test.go expectations") {
    val blocks = RefHllWire.readResults(golden("hll_query_results"))
    assert(blocks.length == 2)
    assert(blocks(1) == Left("test"))
    val b = blocks(0).toOption.get
    assert(b.numDimsPerDimWidth == Seq(0, 0, 1, 1, 1))
    assert(b.enumDicts == Map(1 -> Seq("a", "b", "c", "d")))
    assert(b.rows.length == 3)
    // row 0: all-NULL dims, sparse registers (1,255) (2,254) (3,253)
    assert(b.rows(0).dims == Seq(None, None, None))
    assert(b.rows(0).sparse.get == Seq((1, 255), (2, 254), (3, 253)))
    // row 1: dims ("1", "c", "2"), dense with registers 0 and 1 set to 1
    assert((0 until 3).map(d => b.dimString(1, d)) ==
      Seq(Some("1"), Some("c"), Some("2")))
    assert(b.rows(1).storedCount == RefHllWire.DenseDataLength)
    assert(b.rows(1).registers.count(_ != 0) == 2)
    // row 2: dims ("4294967295" — Uint32 stays unsigned, "d", "514"),
    // sparse in the file's descending-index order
    assert((0 until 3).map(d => b.dimString(2, d)) ==
      Seq(Some("4294967295"), Some("d"), Some("514")))
    assert(b.rows(2).sparse.get == Seq((255, 1), (254, 2), (253, 3), (252, 4)))
    // estimates: linear counting at tiny cardinalities ~= register count
    assert(b.estimates.forall(_ > 0))
  }

  test("reference golden: decode → encode is byte-identical (width-packed writer)") {
    val hllBody = golden("hll") // the bare serialized block hll_test.go wrote
    val decoded = RefHllWire.readBlock(hllBody)
    val reencoded = RefHllWire.writeBlock(decoded)
    assert(java.util.Arrays.equals(reencoded, hllBody),
      s"re-encode diverges: ${reencoded.length} vs ${hllBody.length} bytes, first diff at " +
        reencoded.zip(hllBody).indexWhere(p => p._1 != p._2))
    // and the full envelope, including the reference's error-padding quirk
    val full = golden("hll_query_results")
    val reenvelope = RefHllWire.writeResults(Seq(Right(reencoded), Left("test")))
    assert(java.util.Arrays.equals(reenvelope, full))
  }

  test("reference golden hll_empty_results round-trips") {
    val data = golden("hll_empty_results")
    val blocks = RefHllWire.readResults(data)
    assert(blocks.length == 1)
    val reencoded = RefHllWire.writeResults(Seq(Right(Array.empty[Byte])))
    assert(java.util.Arrays.equals(reencoded, data))
  }

  test("native sketches translate into the reference wire format losslessly") {
    // bridge: engine-native HLL registers → RefHllWire rows → decode agrees
    val regs = new Array[Byte](graft.functions.Hll.M)
    regs(7) = 3; regs(100) = 1; regs(16000) = 9
    val row = RefHllWire.RefRow(Seq(Some(42L)), regs, storedCount = 3)
    val block = RefHllWire.RefBlock(Seq(0, 0, 1, 0, 0), Seq(0),
      Seq(0x00060020L), Map.empty, Seq(row))
    val decoded = RefHllWire.readBlock(RefHllWire.writeBlock(block))
    assert(decoded.rows.head.dims == Seq(Some(42L)))
    assert(decoded.rows.head.registers.toSeq == regs.toSeq)
    assert(decoded.estimates == Seq(graft.functions.Hll.estimate(regs)))
  }
}
