package layerbench

import java.io.ByteArrayOutputStream
import java.nio.channels.Channels

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.WriteChannel
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}

/** The benchmark's own tests: percentiles, the order-insensitive digest
  * and its Arrow decoding, span self time and an op's peak heap. Exits
  * non-zero on the first failure.
  *
  *   python3 layerbench/build.py --test */
object SelfTest {
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit = {
    try body
    catch { case e: Throwable =>
      System.err.println(s"[selftest] FAIL $name: $e")
      sys.exit(1)
    }
    passed += 1
  }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-12

  def main(args: Array[String]): Unit = {
    test("percentile interpolates between closest ranks") {
      check(close(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0), "odd median")
      check(close(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5), "even median")
      check(close(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9), 4.6), "p90")
      check(close(Stats.percentile(Seq(7.0), 0.9), 7.0), "one sample")
      check(close(Stats.percentile((1 to 11).map(_.toDouble), 1.0), 11.0), "p100")
    }

    test("digest ignores row order and sees any changed value") {
      val t = new Lineitem(300, 7L)
      val hs = (0 until t.rows).map(t.rowHash)
      val fwd = hs.foldLeft(Digest.empty)(_ + _)
      val rev = hs.reverse.foldLeft(Digest.empty)(_ + _)
      check(fwd == rev && fwd == t.expectedAll, "order changed the digest")
      val (a, b) = hs.splitAt(123)
      check(a.foldLeft(Digest.empty)(_ + _) ++ b.foldLeft(Digest.empty)(_ + _) == fwd,
        "splitting changed the digest")
      val swapped = RowHash.add(RowHash.add(RowHash.seed, 2L), 1L)
      check(swapped != RowHash.add(RowHash.add(RowHash.seed, 1L), 2L),
        "column order not hashed")
      check(hs.distinct.length == hs.length, "row hashes collide")
    }

    test("window digests add up to the table") {
      val t = new Lineitem(5000, 3L)
      val mid = t.maxKey / 2
      check(t.expected(1, mid) ++ t.expected(mid, t.maxKey + 1) == t.expectedAll,
        "windows do not partition the table")
      check(t.expected(mid, mid) == Digest.empty, "empty window")
      val lines = (0 until t.rows).groupBy(t.orderkey(_)).values.map(_.length)
      check(lines.forall(n => n >= 1 && n <= 7), "1 to 7 lines per order")
      check(new Lineitem(5000, 3L).expectedAll == t.expectedAll, "seed not repeatable")
      check(new Lineitem(5000, 4L).expectedAll != t.expectedAll, "seed ignored")
    }

    test("Arrow IPC batches decode to the generator's digest") {
      val t = new Lineitem(250, 11L)
      val batches = Seq(ipc(t, 100 until 250), ipc(t, 0 until 100))
      check(Lineitem.digestIpc(arrowSchema, batches) == t.expectedAll,
        "decoded digest differs")
      t.extendedprice(42) += 0.01
      val bad = Seq(ipc(t, 0 until 250))
      t.extendedprice(42) -= 0.01
      check(Lineitem.digestIpc(arrowSchema, bad) != t.expectedAll,
        "a changed value went unseen")
    }

    test("self time subtracts the union of child intervals") {
      def s(id: Int, parent: Int, a: Long, b: Long) =
        Span(id, s"s$id", 0, parent, a * 1000000000L, b * 1000000000L, 0, 0)
      val op = s(0, -1, 0, 10)
      val all = Seq(op, s(1, 0, 1, 3), s(2, 0, 2, 5), s(3, 0, 7, 8), s(4, 1, 1, 2))
      check(close(Span.selfSeconds(op, all), 5.0), "op self time")
      check(close(Span.selfSeconds(all(1), all), 1.0), "nested self time")
      check(close(Span.selfSeconds(all(3), all), 1.0), "leaf self time")
    }

    test("span groups resolve to their span, others by time") {
      val spans = Seq(Span(4, "op", 1, -1, 0, 10, 100, 200),
        Span(5, "meta", 1, 4, 1, 2, 110, 120))
      check(Tracer.resolve(spans, Tracer.group(5, "meta"), 0) == Some(5), "by group")
      check(Tracer.resolve(spans, "stream-run", 115) == Some(5), "innermost by time")
      check(Tracer.resolve(spans, "stream-run", 150) == Some(4), "outer by time")
      check(Tracer.resolve(spans, "", 300).isEmpty, "outside every span")
    }

    test("an op's peak heap is its own share above the heap before it") {
      def op(before: Long, after: Long) = OpRecord(0, false, false, 1.0, 1.0,
        1.0, 0.0, 100L, 200L, before, Some(after), OpOutput(1L, None))
      val gcs = Seq((90L, 900L), (150L, 700L), (180L, 650L), (210L, 990L))
      check(close(Metrics.opPeakHeapBytes(op(500L, 520L), gcs), 200.0),
        "peak of the GCs inside the op")
      check(close(Metrics.opPeakHeapBytes(op(500L, 800L), gcs), 300.0),
        "held output above every GC inside")
      check(close(Metrics.opPeakHeapBytes(op(500L, 530L), Nil), 30.0),
        "no GC inside the op")
      check(Metrics.opPeakHeapBytes(op(500L, 530L).copy(heapAfter = None), Nil) == 0.0,
        "no GC seen")
    }

    println(s"[selftest] $passed passed")
  }

  private val arrowSchema: Schema = {
    def f(name: String, t: ArrowType) = new Field(name, FieldType.nullable(t), null)
    val i64 = new ArrowType.Int(64, true)
    val f64 = new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
    new Schema(java.util.Arrays.asList(
      f("L_ORDERKEY", i64), f("L_PARTKEY", i64), f("L_SUPPKEY", i64),
      f("L_LINENUMBER", new ArrowType.Int(32, true)), f("L_QUANTITY", f64),
      f("L_EXTENDEDPRICE", f64), f("L_DISCOUNT", f64), f("L_TAX", f64),
      f("L_RETURNFLAG", ArrowType.Utf8.INSTANCE),
      f("L_LINESTATUS", ArrowType.Utf8.INSTANCE),
      f("L_SHIPDATE", new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC"))))
  }

  /** One serialized record batch of the given rows, as Spark writes them. */
  private def ipc(t: Lineitem, rows: Range): Array[Byte] = {
    val alloc = new RootAllocator(Long.MaxValue)
    val root = VectorSchemaRoot.create(arrowSchema, alloc)
    try {
      root.allocateNew()
      val v = root.getFieldVectors
      for ((r, k) <- rows.zipWithIndex) {
        v.get(0).asInstanceOf[BigIntVector].setSafe(k, t.orderkey(r))
        v.get(1).asInstanceOf[BigIntVector].setSafe(k, t.partkey(r))
        v.get(2).asInstanceOf[BigIntVector].setSafe(k, t.suppkey(r))
        v.get(3).asInstanceOf[IntVector].setSafe(k, t.linenumber(r))
        v.get(4).asInstanceOf[Float8Vector].setSafe(k, t.quantity(r))
        v.get(5).asInstanceOf[Float8Vector].setSafe(k, t.extendedprice(r))
        v.get(6).asInstanceOf[Float8Vector].setSafe(k, t.discount(r))
        v.get(7).asInstanceOf[Float8Vector].setSafe(k, t.tax(r))
        v.get(8).asInstanceOf[VarCharVector].setSafe(k, t.returnflag(r).getBytes("UTF-8"))
        v.get(9).asInstanceOf[VarCharVector].setSafe(k, t.linestatus(r).getBytes("UTF-8"))
        v.get(10).asInstanceOf[TimeStampMicroTZVector].setSafe(k, t.shipdateMicros(r))
      }
      root.setRowCount(rows.length)
      val batch = new VectorUnloader(root).getRecordBatch
      try {
        val out = new ByteArrayOutputStream()
        MessageSerializer.serialize(new WriteChannel(Channels.newChannel(out)), batch)
        out.toByteArray
      } finally batch.close()
    } finally { root.close(); alloc.close() }
  }
}
