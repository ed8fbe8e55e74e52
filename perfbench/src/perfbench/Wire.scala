package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.TimeUnit

import org.sparkproject.connect.grpc._
import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}
import org.sparkproject.connect.protobuf.{CodedInputStream, CodedOutputStream}

/** The benchmark's own client for the `log.v1.Log` wire protocol, written
  * against the proto messages rather than the program's client classes so
  * the generator speaks to the server the way any proglog client would.
  *
  * Record { bytes value=1; uint64 offset=2; ... }; ProduceRequest { Record
  * record=1 }; ProduceResponse { uint64 offset=1 }; ConsumeRequest { uint64
  * offset=1 }; ConsumeResponse { Record record=2 }.
  */
object Wire {
  final case class Rec(offset: Long, value: Array[Byte])

  private def encode(f: CodedOutputStream => Unit): Array[Byte] = {
    val bos = new ByteArrayOutputStream(64)
    val out = CodedOutputStream.newInstance(bos)
    f(out)
    out.flush()
    bos.toByteArray
  }

  private def fields(bytes: Array[Byte])(f: (CodedInputStream, Int) => Boolean): Unit = {
    val in = CodedInputStream.newInstance(bytes)
    var tag = in.readTag()
    while (tag != 0) {
      if (!f(in, tag)) in.skipField(tag)
      tag = in.readTag()
    }
  }

  private def decodeRecord(bytes: Array[Byte]): Rec = {
    var value = Array.emptyByteArray
    var offset = 0L
    fields(bytes) { (in, tag) =>
      tag match {
        case 10 => value = in.readBytes().toByteArray; true
        case 16 => offset = in.readUInt64(); true
        case _  => false
      }
    }
    Rec(offset, value)
  }

  private def marshaller[T](enc: T => Array[Byte], dec: Array[Byte] => T) =
    new MethodDescriptor.Marshaller[T] {
      override def stream(value: T): InputStream = new ByteArrayInputStream(enc(value))
      override def parse(stream: InputStream): T = dec(stream.readAllBytes())
    }

  private val offsetReq = marshaller[java.lang.Long](
    o => encode(out => if (o != 0L) out.writeUInt64(1, o)),
    _ => throw new UnsupportedOperationException
  )
  private val consumeResp = marshaller[Rec](
    _ => throw new UnsupportedOperationException,
    { b =>
      var r = Rec(0L, Array.emptyByteArray)
      fields(b)((in, tag) => if (tag == 18) { r = decodeRecord(in.readBytes().toByteArray); true } else false)
      r
    }
  )
  private val produceReq = marshaller[Array[Byte]](
    v => encode(out => out.writeByteArray(1, encode(o => o.writeByteArray(1, v)))),
    _ => throw new UnsupportedOperationException
  )
  private val produceResp = marshaller[java.lang.Long](
    _ => throw new UnsupportedOperationException,
    { b =>
      var off = 0L
      fields(b)((in, tag) => if (tag == 8) { off = in.readUInt64(); true } else false)
      off
    }
  )

  private def method[Q, R](name: String, t: MethodDescriptor.MethodType, q: MethodDescriptor.Marshaller[Q], r: MethodDescriptor.Marshaller[R]) =
    MethodDescriptor
      .newBuilder(q, r)
      .setType(t)
      .setFullMethodName(MethodDescriptor.generateFullMethodName("log.v1.Log", name))
      .build()

  private val Produce = method("Produce", MethodDescriptor.MethodType.UNARY, produceReq, produceResp)
  private val Consume = method("Consume", MethodDescriptor.MethodType.UNARY, offsetReq, consumeResp)
  private val ConsumeStream =
    method("ConsumeStream", MethodDescriptor.MethodType.SERVER_STREAMING, offsetReq, consumeResp)

  /** One gRPC channel: one HTTP/2 connection, shareable across threads. */
  final class Channel(host: String, port: Int) extends AutoCloseable {
    val ch: ManagedChannel =
      Grpc.newChannelBuilderForAddress(host, port, InsecureChannelCredentials.create()).build()

    def produce(value: Array[Byte]): Long =
      ClientCalls.blockingUnaryCall(ch, Produce, CallOptions.DEFAULT, value).longValue

    def consume(offset: Long): Rec =
      ClientCalls.blockingUnaryCall(ch, Consume, CallOptions.DEFAULT, java.lang.Long.valueOf(offset))

    /** Read `k` records from `from` over ConsumeStream, then cancel the call. */
    def catchup(from: Long, k: Int): Vector[Rec] = {
      val ctx = Context.current().withCancellation()
      try {
        val it = ctx.call(() =>
          ClientCalls.blockingServerStreamingCall(ch, ConsumeStream, CallOptions.DEFAULT, java.lang.Long.valueOf(from))
        )
        val out = Vector.newBuilder[Rec]
        var n = 0
        while (n < k && it.hasNext) { out += it.next(); n += 1 }
        out.result()
      } finally ctx.cancel(null)
    }

    /** Open a ConsumeStream from `from` whose deliveries run on the channel's
      * transport threads; cancel through the returned handle.
      */
    def tail(from: Long, onRecord: Rec => Unit, failed: Throwable => Unit): ClientCall[java.lang.Long, Rec] = {
      val call = ch.newCall(ConsumeStream, CallOptions.DEFAULT)
      ClientCalls.asyncServerStreamingCall(
        call,
        java.lang.Long.valueOf(from),
        new StreamObserver[Rec] {
          override def onNext(r: Rec): Unit = onRecord(r)
          override def onError(t: Throwable): Unit = failed(t)
          override def onCompleted(): Unit = ()
        }
      )
      call
    }

    override def close(): Unit = {
      ch.shutdownNow()
      val _ = ch.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  /** HTTP `/tail?from=N` catch-up: server-sent events, one record each. */
  final class Http(host: String, port: Int) {
    private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    /** The first `k` records the server streams from `from`; the
      * connection is closed after the k-th.
      */
    def catchup(from: Long, k: Int): Vector[Rec] = {
      val req = HttpRequest.newBuilder(URI.create(s"http://$host:$port/tail?from=$from")).GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofLines())
      if (resp.statusCode() != 200) throw new IllegalStateException(s"/tail answered ${resp.statusCode()}")
      val out = Vector.newBuilder[Rec]
      val lines = resp.body()
      try {
        val it = lines.iterator()
        var n = 0
        while (n < k && it.hasNext) {
          val line = it.next()
          if (line.startsWith("data: ")) {
            val j = mapper.readTree(line.substring(6))
            out += Rec(j.get("offset").asLong(), java.util.Base64.getDecoder.decode(j.get("value").asText()))
            n += 1
          }
        }
      } finally lines.close()
      out.result()
    }
  }
}
