package graft

import java.io.ByteArrayInputStream
import java.nio.channels.Channels

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{VectorLoader, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.ReadChannel
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.arrow.vector.types.pojo.Schema
import org.apache.arrow.vector.util.Text

/** Decodes serialized Arrow IPC record batches (no schema message) into
  * plain values, on an allocator of its own. */
object ArrowIpc {

  /** Each batch's rows, each row its column values: Arrow's `getObject`
    * with strings as `String` and byte arrays as `Seq[Byte]`. */
  def decode(schema: Schema, batches: Seq[Array[Byte]]): Seq[Seq[Seq[Any]]] = {
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val root = VectorSchemaRoot.create(schema, alloc)
      try {
        val loader = new VectorLoader(root)
        batches.map { bytes =>
          val rb = MessageSerializer.deserializeRecordBatch(new ReadChannel(
            Channels.newChannel(new ByteArrayInputStream(bytes))), alloc)
          try {
            loader.load(rb)
            val vecs = root.getFieldVectors.asScala.toSeq
            (0 until root.getRowCount).map(r => vecs.map(v => plain(v.getObject(r))))
          } finally rb.close()
        }
      } finally root.close()
    } finally alloc.close()
  }

  private def plain(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case t: Text => t.toString
    case o => o
  }
}
