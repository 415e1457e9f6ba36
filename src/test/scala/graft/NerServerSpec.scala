package graft

import graft.api.{ModelRegistry, ModelSpec, NerServer}
import graft.pipeline.KgPipeline
import graft.tag.GazetteerTagger
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite

/** The HTTP serving loop: /models listing, /ner classification on raw
  * text, request-hash memoization, warm-model reuse — the reference's
  * webapp surface (app.py:166-207, 215-317) end-to-end over a real
  * socket.
  */
class NerServerSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark

  private def withServer[T](f: (NerServer, Int, HttpClient) => T): T = {
    val registry = new ModelRegistry(
      Seq(ModelSpec("gazetteer", 1, "builtin", 7, default = true),
          ModelSpec("gazetteer-alt", 2, "builtin", 9, default = false)),
      _ => new GazetteerTagger(KgPipeline.defaultGazetteer))
    val srv = new NerServer(spark, registry)
    val port = srv.start()
    try f(srv, port, HttpClient.newHttpClient()) finally srv.stop()
  }

  private def post(client: HttpClient, url: String, body: String) =
    client.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET /models lists the registry; POST /ner tags raw text") {
    withServer { (srv, port, client) =>
      val models = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/models"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(models.statusCode() == 200)
      assert(models.body().contains("\"gazetteer\"") &&
        models.body().contains("\"default\":true"), models.body())

      val r = post(client, s"http://localhost:$port/ner",
        "Anna Müller war in Berlin . Karl sprach mit Anna Müller .")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("\"word\":\"Anna\"") &&
        r.body().contains("\"prediction\":\"B-PER\"") &&
        r.body().contains("\"prediction\":\"I-PER\""), r.body())
      // two sentences → two inner arrays
      assert(r.body().startsWith("[[") && r.body().count(_ == '[') == 3)
    }
  }

  test("POST /tokenized returns sentence×word arrays with index (app.py:171-182)") {
    withServer { (srv, port, client) =>
      val r = post(client, s"http://localhost:$port/tokenized",
        "Anna Müller war in Berlin . Karl sprach mit Anna Müller .")
      assert(r.statusCode() == 200, r.body())
      // the reference jsonifies [(sen, i)] tuples → [[words...], i] pairs
      assert(r.body() ==
        """[[["Anna","Müller","war","in","Berlin","."],0],""" +
        """[["Karl","sprach","mit","Anna","Müller","."],1]]""", r.body())
      // memoized independently of /ner over the same text
      val hits0 = srv.memoHitCount
      post(client, s"http://localhost:$port/tokenized",
        "Anna Müller war in Berlin . Karl sprach mit Anna Müller .")
      assert(srv.memoHitCount == hits0 + 1)
      val ner = post(client, s"http://localhost:$port/ner",
        "Anna Müller war in Berlin . Karl sprach mit Anna Müller .")
      assert(srv.memoHitCount == hits0 + 1, "cross-endpoint cache collision")
      assert(ner.body() != r.body())
    }
  }

  test("POST /ner-bert-tokens returns escaped wordpiece tokens + raw predictions") {
    withServer { (srv, port, client) =>
      val r = post(client, s"http://localhost:$port/ner-bert-tokens",
        "Anna Müller war in Berlin . Karl sprach mit Anna Müller .")
      assert(r.statusCode() == 200, r.body())
      // two sentences → two inner arrays of {token, prediction} objects
      assert(r.body().startsWith("[[{") || r.body().startsWith("[[]"), r.body())
      assert(r.body().count(_ == '[') == 3, r.body())
      assert(r.body().contains("\"token\":") &&
        r.body().contains("\"prediction\":\"B-PER\""), r.body())
      // explicit model id variant + memoization
      val a = post(client, s"http://localhost:$port/ner-bert-tokens/2",
        "Berlin ist gross .")
      val hits0 = srv.memoHitCount
      val b = post(client, s"http://localhost:$port/ner-bert-tokens/2",
        "Berlin ist gross .")
      assert(a.body() == b.body() && srv.memoHitCount == hits0 + 1)
      // html escaping of the reference (html.escape): & → &amp; in tokens
      val esc = post(client, s"http://localhost:$port/ner-bert-tokens",
        "a & b .")
      assert(esc.statusCode() == 200 &&
        esc.body().contains("\"token\":\"&amp;\""), esc.body())
    }
  }

  test("root redirects to /index.html (app.py:161-163); unknown paths 404") {
    withServer { (_, port, client) =>
      val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:$port/")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 302)
      assert(r.headers().firstValue("Location").orElse("") == "/index.html")
      val nf = client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:$port/nope")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(nf.statusCode() == 404)
    }
  }

  test("the redirect resolves: /index.html serves the embedded demo UI (app.py:320-322)") {
    withServer { (_, port, client) =>
      val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:$port/index.html")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/html"))
      // the page is the working demo: it POSTs to /ner and renders spans
      assert(r.body().contains("graft NER demo"))
      assert(r.body().contains("fetch(\"ner/\""))
      // traversal-shaped paths never reach the classloader
      for (bad <- Seq("/../app.conf", "/graft/static/../../secret.txt",
                      "/%2e%2e/x.html", "/index.html/")) {
        val b = client.send(HttpRequest.newBuilder(
            URI.create(s"http://localhost:$port$bad")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(b.statusCode() == 404, s"$bad -> ${b.statusCode()}")
      }
    }
  }

  test("request-hash memoization and warm-model swap semantics") {
    withServer { (srv, port, client) =>
      val url = s"http://localhost:$port/ner"
      val a = post(client, url, "Berlin ist gross .")
      val b = post(client, url, "Berlin ist gross .")
      assert(a.body() == b.body())
      assert(srv.memoHitCount == 1, srv.memoHitCount)
      // explicit model id on a fresh text: same tagger family, new build
      val c = post(client, s"$url/2", "Wien ist schoen .")
      assert(c.statusCode() == 200 && c.body().contains("B-LOC"), c.body())
      // malformed: GET on /ner and unknown model id
      val g = client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(g.statusCode() == 405)
      val bad = post(client, s"$url/99", "x")
      assert(bad.statusCode() == 500)
      // the 500 body must be PARSEABLE JSON even for messy messages
      assert(bad.body().startsWith("{\"error\":\"") &&
        !bad.body().exists(_ < ' '), bad.body())
      // a non-numeric model id is a CLIENT error (404), never a 500
      val nonNum = post(client, s"$url/abc", "x")
      assert(nonNum.statusCode() == 404, nonNum.body())
    }
  }

  test("/ner predictions decode to the batch detect path's mentions") {
    // one long sentence (several 128-piece windows) between short ones
    val long = Seq.fill(40)("Anna Müller besuchte Berlin und").mkString(" ")
    val text = s"Anna Müller war in Berlin . $long Wien . Karl sprach mit Anna Müller ."
    val served = withServer { (_, port, client) =>
      val r = post(client, s"http://localhost:$port/ner", text)
      assert(r.statusCode() == 200, r.body())
      val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
      (0 until json.size).map { i =>
        val sent = json.get(i)
        val tags = (0 until sent.size).map(j => sent.get(j).get("prediction").asText).toArray
        i -> graft.text.Tags.bioToSpans(tags).toSet
      }.toMap
    }
    val ss = spark
    import ss.implicits._
    val docs = Seq(graft.model.Doc("d0",
      Array(graft.model.Span("text", text, null, 0)))).toDS()
    val batch = KgPipeline.detectMentions(spark, KgPipeline.rawSentences(spark, docs),
        new GazetteerTagger(KgPipeline.defaultGazetteer))
      .collect().groupBy(_.sentence_idx)
      .map { case (i, ms) => i -> ms.map(m => (m.start_word, m.end_word, m.entity_type)).toSet }
    assert(served.size == 3, served)
    assert(served.values.forall(_.nonEmpty), served)
    assert(served == batch)
  }
}
