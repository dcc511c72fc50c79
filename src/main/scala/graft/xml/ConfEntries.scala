package graft.xml

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration

/** A Hadoop configuration shipped to executors as its key/value entries
  * alone. Spark's `SerializableConfiguration` goes through
  * `Configuration.write`, which opens a `GZIPOutputStream` for every key's
  * provenance array: about 1,100 keys and 112 KB per scan broadcast. Here
  * the entries are encoded once, as length-prefixed UTF-8 (no 64 KB limit
  * on a value, unlike `DataOutput.writeUTF`), and a deserialized copy
  * rebuilds `new Configuration(false)` from them: no defaults are parsed,
  * since the entries already hold the driver's loaded ones.
  *
  * The bytes are a plain field, so Java and Kryo serialization both carry
  * them. Where the holder is never serialized away (local mode, where a
  * broadcast hands back the driver's object) `value` is the configuration
  * it was built from.
  */
private[graft] final class ConfEntries(
    @transient private val source: Configuration) extends Serializable {

  private val bytes: Array[Byte] = ConfEntries.encode(source)

  @transient lazy val value: Configuration =
    if (source != null) source else ConfEntries.decode(bytes)
}

private[graft] object ConfEntries {

  private def encode(conf: Configuration): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1 << 17)
    val data = new java.io.DataOutputStream(out)
    def put(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      data.writeInt(b.length)
      data.write(b)
    }
    val it = conf.iterator()
    while (it.hasNext) {
      val e = it.next()
      put(e.getKey)
      put(e.getValue)
    }
    data.flush()
    out.toByteArray
  }

  private def decode(bytes: Array[Byte]): Configuration = {
    val conf = new Configuration(false)
    val in = ByteBuffer.wrap(bytes)
    def take(): String = {
      val n = in.getInt()
      val s = new String(bytes, in.position(), n, UTF_8)
      in.position(in.position() + n)
      s
    }
    while (in.hasRemaining) {
      val k = take()
      conf.set(k, take())
    }
    conf
  }
}
