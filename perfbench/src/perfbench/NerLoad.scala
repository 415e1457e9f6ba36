package perfbench

import java.io.{BufferedInputStream, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ArrayBlockingQueue, ConcurrentLinkedQueue, LinkedBlockingDeque}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import graft.gen.CorpusGen

import scala.jdk.CollectionConverters._

/** One `/ner` request text and the words and tags the generator planted
  * in it. */
final case class NerCase(text: String, words: Vector[String], tags: Vector[String])

/** Distinct request texts, each a generated document's text spans joined
  * by spaces, drawn in index order from `base`. A text that repeats an
  * earlier one is skipped, so the server's response memo never hits. */
final class NerTexts(base: Long) {
  private val next = new AtomicLong(base)
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def take(): NerCase = {
    var c: NerCase = null
    while (c == null) {
      val d = CorpusGen.genDoc(next.getAndIncrement())
      val text = d.sentences.map(_.words.mkString(" ")).mkString(" ")
      if (seen.add(text))
        c = NerCase(text, d.sentences.flatMap(_.words.toVector),
          d.sentences.flatMap(_.tags.toVector))
    }
    c
  }
}

/** A keep-alive HTTP/1.1 connection that posts one request at a time.
  * Each request goes out in a single write. */
final class HttpConn(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  private val out = sock.getOutputStream
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)

  /** POSTs `body` to `path`; returns (status, response body). */
  def post(path: String, body: String): (Int, Array[Byte]) = {
    val b = body.getBytes(UTF_8)
    val head = s"POST $path HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
      "Content-Type: text/plain; charset=utf-8\r\n" +
      s"Content-Length: ${b.length}\r\n\r\n"
    out.write(head.getBytes(UTF_8) ++ b)
    out.flush()
    val status = HttpConn.line(in).split(' ')(1).toInt
    var len = -1
    var l = HttpConn.line(in)
    while (l.nonEmpty) {
      val i = l.indexOf(':')
      if (i > 0 && l.substring(0, i).trim.equalsIgnoreCase("content-length"))
        len = l.substring(i + 1).trim.toInt
      l = HttpConn.line(in)
    }
    require(len >= 0, "response without Content-Length")
    (status, in.readNBytes(len))
  }

  def close(): Unit = sock.close()
}

object HttpConn {
  private def line(in: InputStream): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }
}

/** Result of one `/ner` phase: per-request latencies (ms), how late the
  * sender ran (ms, open loop only), completions, failures, wall seconds. */
final case class NerPhase(latMs: Array[Double], lateMs: Array[Double],
                          done: Long, failed: Long, wallS: Double)

/** `/ner` load over `conns` keep-alive connections, opened once and kept
  * for every phase, as a client's connection pool keeps them. Responses
  * are kept and checked after the phase, so checking costs no load time. */
final class NerLoad(port: Int, conns: Int, texts: NerTexts) extends AutoCloseable {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val pending = new ConcurrentLinkedQueue[(NerCase, Array[Byte])]()
  private val pool = IndexedSeq.fill(conns)(new HttpConn(port))

  def close(): Unit = pool.foreach(_.close())

  /** Open loop: `total` requests at `rate` per second, request k due at
    * k / rate, its latency timed from the due time. Each request goes to
    * the idle connection returned last (LIFO reuse, as a connection pool
    * hands them out), so as few connections as the load needs stay busy.
    * When all `conns` are busy the request waits for one, and the wait
    * counts in its latency. */
  def open(rate: Double, total: Int): NerPhase = {
    val cases = Array.fill(total)(texts.take())
    val lat = new Array[Double](total)
    val late = new Array[Double](total)
    val failed = new AtomicLong
    val t0 = System.nanoTime() + 20000000L
    def due(k: Int) = t0 + (k * 1e9 / rate).toLong
    val idle = new LinkedBlockingDeque[ArrayBlockingQueue[Integer]]()
    val workers = pool.map { conn =>
      val inbox = new ArrayBlockingQueue[Integer](1)
      idle.push(inbox)
      new Thread(() => {
        var k: Int = inbox.take()
        while (k >= 0) {
          if (!send(conn, cases(k))) failed.incrementAndGet()
          lat(k) = (System.nanoTime() - due(k)) / 1e6
          idle.push(inbox)
          k = inbox.take()
        }
      })
    }
    workers.foreach(_.start())
    (0 until total).foreach { k =>
      var now = System.nanoTime()
      while (now < due(k)) { LockSupport.parkNanos(due(k) - now); now = System.nanoTime() }
      late(k) = (now - due(k)) / 1e6
      idle.takeFirst().put(k)
    }
    (0 until conns).foreach(_ => idle.takeFirst().put(-1))
    workers.foreach(_.join())
    NerPhase(lat, late, total - failed.get, failed.get, (System.nanoTime() - t0) / 1e9)
  }

  /** Closed loop: every connection sends its next request as soon as the
    * previous one completes, for `seconds`. */
  def closed(seconds: Double): NerPhase = {
    val done = new AtomicLong
    val failed = new AtomicLong
    val lat = new ConcurrentLinkedQueue[java.lang.Double]()
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val threads = pool.map { conn =>
      new Thread(() => {
        while (System.nanoTime() < end) {
          val c = texts.take()
          val s = System.nanoTime()
          if (send(conn, c)) done.incrementAndGet() else failed.incrementAndGet()
          lat.add((System.nanoTime() - s) / 1e6)
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    NerPhase(lat.asScala.map(_.doubleValue).toArray, Array.empty,
      done.get, failed.get, wall)
  }

  private def send(conn: HttpConn, c: NerCase): Boolean =
    try {
      val (status, body) = conn.post("/ner", c.text)
      if (status != 200) false else { pending.add((c, body)); true }
    } catch { case _: Exception => false }

  /** Checks every kept response against its planted words and tags;
    * returns the mismatches (at most `limit` described). */
  def checkPending(limit: Int = 3): (Long, Seq[String]) = {
    var bad = 0L
    val msgs = scala.collection.mutable.ArrayBuffer.empty[String]
    var e = pending.poll()
    while (e != null) {
      val (c, body) = e
      val (ws, ts) = parse(body)
      if (ws != c.words || ts != c.tags) {
        bad += 1
        if (msgs.size < limit)
          msgs += s"/ner tags differ for '${c.text.take(60)}…': got ${ts.take(12)}, planted ${c.tags.take(12)}"
      }
      e = pending.poll()
    }
    (bad, msgs.toSeq)
  }

  private def parse(body: Array[Byte]): (Vector[String], Vector[String]) = {
    val root = mapper.readTree(body)
    val ws = Vector.newBuilder[String]
    val ts = Vector.newBuilder[String]
    root.elements().asScala.foreach(_.elements().asScala.foreach { w =>
      ws += w.get("word").asText(); ts += w.get("prediction").asText()
    })
    (ws.result(), ts.result())
  }
}
