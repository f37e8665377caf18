package layerbench

import java.io.ByteArrayInputStream
import java.nio.channels.Channels
import java.sql.DriverManager
import java.util.SplittableRandom

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ReadChannel
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.arrow.vector.types.pojo.Schema

/** A seeded `lineitem` table with the 11-column shape of the TPC-H-style
  * test data: consecutive order keys from 1, 1 to 7 lines per order,
  * rows in order-key order. Columns are held as arrays; the per-row
  * hashes and their prefix sums give the expected digest of any
  * order-key window in O(1). */
final class Lineitem(val rows: Int, seed: Long) {
  import Lineitem._

  val orderkey = new Array[Long](rows)
  val partkey = new Array[Long](rows)
  val suppkey = new Array[Long](rows)
  val linenumber = new Array[Int](rows)
  val quantity = new Array[Double](rows)
  val extendedprice = new Array[Double](rows)
  val discount = new Array[Double](rows)
  val tax = new Array[Double](rows)
  val returnflag = new Array[String](rows)
  val linestatus = new Array[String](rows)
  val shipdateMicros = new Array[Long](rows)

  /** `prefix(i)` = digest sum of rows [0, i). */
  private val prefix = new Array[Long](rows + 1)

  locally {
    val rng = new SplittableRandom(seed)
    var i = 0
    var key = 0L
    while (i < rows) {
      key += 1
      val lines = 1 + rng.nextInt(7)
      var ln = 1
      while (ln <= lines && i < rows) {
        orderkey(i) = key
        partkey(i) = 1 + rng.nextInt(20000)
        suppkey(i) = 1 + rng.nextInt(1000)
        linenumber(i) = ln
        val q = 1 + rng.nextInt(50)
        quantity(i) = q.toDouble
        extendedprice(i) = (q.toLong * (90000 + rng.nextInt(110000))) / 100.0
        discount(i) = rng.nextInt(11) / 100.0
        tax(i) = rng.nextInt(9) / 100.0
        returnflag(i) = Flags(rng.nextInt(3))
        linestatus(i) = Statuses(rng.nextInt(2))
        shipdateMicros(i) = (FirstShipDay + rng.nextInt(2526)) * 86400L * 1000000L
        prefix(i + 1) = prefix(i) + rowHash(i)
        ln += 1
        i += 1
      }
    }
  }

  def maxKey: Long = orderkey(rows - 1)

  def rowHash(i: Int): Long = {
    var h = RowHash.seed
    h = RowHash.add(h, orderkey(i))
    h = RowHash.add(h, partkey(i))
    h = RowHash.add(h, suppkey(i))
    h = RowHash.add(h, linenumber(i).toLong)
    h = RowHash.addDouble(h, quantity(i))
    h = RowHash.addDouble(h, extendedprice(i))
    h = RowHash.addDouble(h, discount(i))
    h = RowHash.addDouble(h, tax(i))
    h = RowHash.addString(h, returnflag(i))
    h = RowHash.addString(h, linestatus(i))
    RowHash.add(h, shipdateMicros(i))
  }

  /** First row index whose order key is >= k. */
  private def lowerBound(k: Long): Int = {
    var lo = 0; var hi = rows
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (orderkey(mid) < k) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Expected digest of `l_orderkey >= lo and l_orderkey < hi`. */
  def expected(lo: Long, hi: Long): Digest = {
    val a = lowerBound(lo); val b = lowerBound(hi)
    Digest((b - a).toLong, prefix(b) - prefix(a))
  }

  def expectedAll: Digest = Digest(rows.toLong, prefix(rows))

  /** Create `lineitem` in the embedded database at `jdbcUrl`, load every
    * row in order-key order, then index `l_orderkey` (the partition
    * column). One writer: concurrent writers measured slower in Derby. */
  def load(jdbcUrl: String): Unit = {
    val conn = DriverManager.getConnection(jdbcUrl)
    try {
      val st = conn.createStatement()
      st.execute(
        """create table lineitem (l_orderkey bigint not null,
          |l_partkey bigint not null, l_suppkey bigint not null,
          |l_linenumber integer not null, l_quantity double not null,
          |l_extendedprice double not null, l_discount double not null,
          |l_tax double not null, l_returnflag varchar(1) not null,
          |l_linestatus varchar(1) not null,
          |l_shipdate timestamp not null)""".stripMargin)
      insert(jdbcUrl, 0, rows)
      require(count(st) == rows, "lineitem load lost rows")
      st.execute("create index lineitem_orderkey on lineitem (l_orderkey)")
      // index statistics now, not in Derby's background thread during ops
      st.execute("call syscs_util.syscs_update_statistics('APP', 'LINEITEM', null)")
      st.close()
    } finally conn.close()
  }

  private def count(st: java.sql.Statement): Long = {
    val rs = st.executeQuery("select count(*) from lineitem")
    try { rs.next(); rs.getLong(1) } finally rs.close()
  }

  private def insert(jdbcUrl: String, from: Int, until: Int): Unit = {
    val conn = DriverManager.getConnection(jdbcUrl)
    try {
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement(
        "insert into lineitem values (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?)")
      var i = from
      while (i < until) {
        ps.setLong(1, orderkey(i)); ps.setLong(2, partkey(i))
        ps.setLong(3, suppkey(i)); ps.setInt(4, linenumber(i))
        ps.setDouble(5, quantity(i)); ps.setDouble(6, extendedprice(i))
        ps.setDouble(7, discount(i)); ps.setDouble(8, tax(i))
        ps.setString(9, returnflag(i)); ps.setString(10, linestatus(i))
        ps.setTimestamp(11, new java.sql.Timestamp(shipdateMicros(i) / 1000L))
        ps.addBatch()
        i += 1
        if ((i - from) % 2000 == 0 || i == until) ps.executeBatch()
        if ((i - from) % 50000 == 0 || i == until) conn.commit()
      }
      ps.close()
    } finally conn.close()
  }
}

object Lineitem {
  val Columns: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")
  private val Flags = Array("R", "A", "N")
  private val Statuses = Array("O", "F")
  /** 1992-01-02 as days since the epoch. */
  private val FirstShipDay = 8036L

  /** Digest of Arrow IPC record batches with the given schema, hashing
    * each row's columns in `Columns` order (matched case-insensitively).
    * Batches must carry no dictionary-encoded columns. */
  def digestIpc(schema: Schema, batches: Seq[Array[Byte]]): Digest = {
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val root = VectorSchemaRoot.create(schema, alloc)
      try {
        val loader = new VectorLoader(root)
        val byName = root.getFieldVectors.toArray(Array.empty[FieldVector])
          .map(v => v.getName.toLowerCase -> v).toMap
        val missing = Columns.filterNot(byName.contains)
        require(missing.isEmpty, s"Arrow batches lack columns $missing")
        val vecs = Columns.map(byName)
        var d = Digest.empty
        for (bytes <- batches) {
          val rb = MessageSerializer.deserializeRecordBatch(
            new ReadChannel(Channels.newChannel(new ByteArrayInputStream(bytes))),
            alloc)
          try {
            loader.load(rb)
            var r = 0
            val n = root.getRowCount
            while (r < n) {
              var h = RowHash.seed
              for (v <- vecs) h = hashCell(h, v, r)
              d = d + h
              r += 1
            }
          } finally rb.close()
        }
        d
      } finally root.close()
    } finally alloc.close()
  }

  private def hashCell(h: Long, v: FieldVector, r: Int): Long =
    if (v.isNull(r)) RowHash.addNull(h)
    else v match {
      case x: BigIntVector => RowHash.add(h, x.get(r))
      case x: IntVector => RowHash.add(h, x.get(r).toLong)
      case x: Float8Vector => RowHash.addDouble(h, x.get(r))
      case x: VarCharVector =>
        val b = x.get(r); RowHash.addBytes(h, b, 0, b.length)
      case x: TimeStampVector => RowHash.add(h, x.get(r))
      case x => throw new IllegalArgumentException(
        s"unexpected Arrow vector ${x.getClass.getSimpleName} for ${x.getName}")
    }
}
