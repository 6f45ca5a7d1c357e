package graft.serving

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Trainer
import graft.operators.GatedBroadcast

class ApiServerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val modelDir: String = {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_api_").toString
    val data = Trainer.prepare((1 to 200).map { i =>
      (i % 40 + (i % 7) * 0.5, (i % 90) * 10.0, (i % 13) * 2.0,
        (i % 17) * 3.0, s"food_$i")
    }.toDF("Protein-G", "Energy-KCAL", "Total lipid (fat)-G",
      "Carbohydrate, by difference-G", "description"))
    Trainer.trainAll(data, Seq("description"), out)
    out
  }

  private lazy val server = new ApiServer(spark, modelDir).start()
  private lazy val client = HttpClient.newHttpClient()

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder()
      .uri(URI.create(s"http://localhost:${server.boundPort}$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .build(), HttpResponse.BodyHandlers.ofString())

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder()
      .uri(URI.create(s"http://localhost:${server.boundPort}$path"))
      .GET().build(), HttpResponse.BodyHandlers.ofString())

  /** (status, body) of one request to `s`: a POST when `body` is given. */
  private def call(s: ApiServer, path: String,
      body: Option[String] = None): (Int, String) = {
    val b = HttpRequest.newBuilder()
      .uri(URI.create(s"http://localhost:${s.boundPort}$path"))
    val r = client.send(body.fold(b.GET())(x =>
      b.POST(HttpRequest.BodyPublishers.ofString(x))).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  /** A server over `dir` built with the gate at 0 rows: every data
    * route takes the distributed path. */
  private def gatedOff(dir: String): ApiServer = {
    val prev = spark.conf.getOption(GatedBroadcast.ConfKey)
    spark.conf.set(GatedBroadcast.ConfKey, "0")
    try new ApiServer(spark, dir).start()
    finally prev.fold(spark.conf.unset(GatedBroadcast.ConfKey))(
      spark.conf.set(GatedBroadcast.ConfKey, _))
  }

  /** Spark jobs started while `body` runs. The listener bus delivers in
    * order, so once a marked job of our own is seen, every earlier job
    * has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val marker = "graft.spec.marker"
    val seen = new java.util.concurrent.LinkedBlockingQueue[java.lang.Boolean]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).exists(_.getProperty(marker) != null))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(marker, "end")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
      Iterator.continually(Option(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(fail("listener bus did not drain")).booleanValue)
        .takeWhile(!_).size
    } finally sc.removeSparkListener(listener)
  }

  /** Milliseconds per request for `n` sequential GETs of `path` on one
    * keep-alive connection. */
  private def keepAliveMs(port: Int, path: String, n: Int): Seq[Double] = {
    val sock = new java.net.Socket("localhost", port)
    try {
      sock.setTcpNoDelay(true)
      val out = sock.getOutputStream
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val request = s"GET $path HTTP/1.1\r\nHost: localhost\r\n\r\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      (1 to n).map { _ =>
        val t0 = System.nanoTime()
        out.write(request)
        out.flush()
        val head = new StringBuilder
        while (!head.endsWith("\r\n\r\n")) {
          val c = in.read()
          assert(c >= 0, s"connection closed after: $head")
          head += c.toChar
        }
        assert(head.startsWith("HTTP/1.1 200"), head.toString)
        val len = """(?i)content-length:\s*(\d+)""".r
          .findFirstMatchIn(head).get.group(1).toInt
        assert(in.readNBytes(len).length == len)
        (System.nanoTime() - t0) / 1e6
      }
    } finally sock.close()
  }

  /** Trained on rows that tie and on descriptions ASCII and not: 20
    * feature rows, each under 12 descriptions (equal distances, broken
    * by description). Of the non-ASCII descriptions, half lead with
    * U+FF21 and half with U+1F359, which order one way as UTF-8 bytes
    * (Spark's string order) and the other as UTF-16 units (String's);
    * model 3's slice holds both kinds in some tied groups. The words
    * differ between lowercasing rules. */
  private lazy val parityDir: String = {
    import spark.implicits._
    val leads = Seq("Ａ", "\uD83C\uDF59")
    val words = Seq("İSTANBUL kebap", "ΣΟΦΙΑ σαλάτα ΟΔΟΣ", "Straße Brot",
      "Crème BRÛLÉE")
    val ascii = Seq("ISTANBUL Kebap", "Sesame BAR", "plain rice", "KEFIR")
    val out = java.nio.file.Files.createTempDirectory("graft_api_parity_").toString
    val data = Trainer.prepare((0 until 240).map { i =>
      val g = i % 20
      (g % 8 * 4.0 + 1.0, g * 35.0, g % 5 * 3.0, g % 3 * 7.0 + g,
        if (i >= 200) s"Plain ${ascii(i % 4)} #$i"
        else s"${leads(i / 20 % 2)} ${words(i % 4)} #$i")
    }.toDF("Protein-G", "Energy-KCAL", "Total lipid (fat)-G",
      "Carbohydrate, by difference-G", "description"))
    Trainer.trainAll(data, Seq("description"), out)
    out
  }

  test("health reports all five models loaded in the reference shape") {
    val r = get("/health")
    assert(r.statusCode() == 200)
    assert(r.body().contains(""""overall_status":"healthy""""))
    assert(r.body().contains(""""operational_models":5"""))
    assert(r.body().contains(""""total_expected_models":5"""))
    assert(r.body().contains(""""model_5_classification":"operational""""))
    assert(r.body().contains(""""model_3_recommendation":"operational""""))
  }

  test("predict routes all five model types") {
    val payload =
      """{"Protein-G": 30.0, "Energy-KCAL": 400.0, "Total lipid (fat)-G": 10.0}"""
    val cluster = post("/predict/1", payload)
    assert(cluster.statusCode() == 200)
    assert(cluster.body().contains(""""model_type":"clustering""""))
    val recs = post("/predict/3", payload)
    assert(recs.statusCode() == 200)
    assert(recs.body().contains(""""recommendations":["""))
    val reg = post("/predict/4", payload)
    assert(reg.statusCode() == 200)
    assert(reg.body().contains("predicted_energy_kcal"))
    val cls = post("/predict/5", payload)
    assert(cls.statusCode() == 200)
    assert(cls.body().contains("is_high_protein"))
  }

  test("absent features default to 0.0 and bad ids are rejected") {
    assert(post("/predict/2", "{}").statusCode() == 200)
    assert(post("/predict/9", "{}").statusCode() == 400)
    assert(post("/predict/abc", "{}").statusCode() == 400)
    assert(get("/predict/1").statusCode() == 405)
  }

  test("known-but-unloaded model returns 404 and health reports unhealthy") {
    // empty model dir: ids 1..5 are known but nothing is loaded
    val empty = java.nio.file.Files.createTempDirectory("graft_api_empty_")
    val s = new ApiServer(spark, empty.toString).start()
    try {
      val r = client.send(HttpRequest.newBuilder()
        .uri(URI.create(s"http://localhost:${s.boundPort}/predict/4"))
        .POST(HttpRequest.BodyPublishers.ofString("{}"))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 404) // api.py:216 — not-loaded is 404
      val h = client.send(HttpRequest.newBuilder()
        .uri(URI.create(s"http://localhost:${s.boundPort}/health"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(h.statusCode() == 503)
      assert(h.body().contains(""""overall_status":"unhealthy""""))
      assert(h.body().contains(""""model_4_regression":"not_operational""""))
    } finally s.stop()
  }

  test("stats route reports each model's cumulative slice size") {
    val r5 = get("/stats/model5")
    assert(r5.statusCode() == 200)
    assert(r5.body().contains(""""total_records":200"""))
    val r1 = get("/stats/model1")
    assert(r1.statusCode() == 200)
    assert(r1.body().contains(""""total_records":40"""))
    assert(get("/stats/model9").statusCode() == 404)
    assert(get("/stats/nonsense").statusCode() == 404)
  }

  test("find_allergen searches descriptions within the model slice") {
    // descriptions are food_1..food_200 ordered lexicographically;
    // model5 = full data, so 'food_13' matches exactly food_13 + food_130..139
    val r = get("/find_allergen/model5?allergy=FOOD_13")
    assert(r.statusCode() == 200)
    assert(r.body().contains(""""count":11"""))
    assert(r.body().contains(""""allergy":"FOOD_13""""))
    assert(r.body().contains("food_13"))
    // a slice-respecting search: model1 holds the first 40 rows in
    // description order (food_1, food_10, food_100, ...)
    val r1 = get("/find_allergen/model1?allergy=food_199")
    assert(r1.statusCode() == 200)
    assert(r1.body().contains(""""count":0"""))
    assert(get("/find_allergen/model1").statusCode() == 400)
  }

  test("food_details looks up a row by id within the model slice") {
    val r = get("/food_details/model5/0")
    assert(r.statusCode() == 200)
    assert(r.body().contains(""""id":0"""))
    assert(r.body().contains(""""description":"food_"""))
    assert(r.body().contains("Protein-G"))
    // id 150 exists in the data but is outside model1's 40-row slice
    assert(get("/food_details/model1/150").statusCode() == 404)
    assert(get("/food_details/model5/999999").statusCode() == 404)
    assert(get("/food_details/model5/abc").statusCode() == 404)
  }

  test("concurrent requests are served in parallel without errors") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val payload = """{"Protein-G": 30.0, "Energy-KCAL": 400.0}"""
    val futures = (1 to 16).map { i =>
      Future {
        if (i % 2 == 0) get("/health").statusCode()
        else post(s"/predict/${1 + i % 2 * 3}", payload).statusCode()
      }
    }
    val codes = futures.map(Await.result(_, 30.seconds))
    assert(codes.forall(_ == 200), s"unexpected codes: $codes")
  }

  test("flat JSON parser handles the reference payload shapes") {
    val s = new ApiServer(spark, modelDir)
    val m = s.parseFlatJson(
      """{"Protein-G": 20.5, "Vitamin D (D2 + D3)-UG": -1e2, "n": 3}""")
    assert(m == Map("Protein-G" -> 20.5,
      "Vitamin D (D2 + D3)-UG" -> -100.0, "n" -> 3.0))
    s.stop()
  }

  test("malformed JSON and non-numeric feature values are rejected with 400") {
    val bad = Seq("", "not json", "{", """{"Protein-G": 1.0,}""",
      """{"Protein-G": 1.0} trailing""", "[1, 2]", "42",
      """{"Protein-G": "abc"}""", """{"Protein-G": "30"}""",
      """{"Energy-KCAL": null}""", """{"Protein-G": true}""",
      """{"Protein-G": [1]}""", """{"Protein-G": NaN}""")
    bad.foreach { body =>
      val r = post("/predict/1", body)
      assert(r.statusCode() == 400, s"$body -> ${r.statusCode()} ${r.body()}")
      assert(r.body().startsWith("""{"error":"""))
    }
    assert(post("/predict/3", """{"Zinc, Zn-MG": "x"}""").statusCode() == 400)
    // keys the models do not read are not validated, as in the reference
    assert(post("/predict/1", """{"note": "x", "Protein-G": 3}""")
      .statusCode() == 200)
    assert(post("/predict/1", "{}").statusCode() == 200)
  }

  test("driver-resident and distributed paths answer byte for byte") {
    val resident = new ApiServer(spark, parityDir).start()
    val distributed = gatedOff(parityDir)
    try {
      val g = new scala.util.Random(7)
      def payload(values: Seq[Double]): String =
        Seq("Protein-G", "Energy-KCAL", "Total lipid (fat)-G",
          "Carbohydrate, by difference-G").zip(values)
          .map { case (c, v) => s""""$c": $v""" }.mkString("{", ",", "}")
      // every training row's features (each tied 10 ways), random
      // probes, and the all-default probe
      val predicts = (0 until 20).map(gr => payload(Seq(gr % 8 * 4.0 + 1.0,
          gr * 35.0, gr % 5 * 3.0, gr % 3 * 7.0 + gr))) ++
        (1 to 10).map(_ => payload(Seq.fill(4)(g.nextDouble() * 600))) :+ "{}"
      val terms = Seq("İSTANBUL", "istanbul", "i̇stanbul", "ΣΟΦΙΑ", "σοφια",
        "οδος", "ΟΔΟΣ", "STRASSE", "straße", "CRÈME", "brûlée",
        "KEBAP", "plain", "\uD83C\uDF59", "#1", "zzz-no-match", "")
      val requests =
        predicts.map(b => ("/predict/3", Some(b))) ++
        (1 to 5).flatMap(k => terms.map(t => (s"/find_allergen/model$k?allergy=" +
          java.net.URLEncoder.encode(t, "UTF-8"), None))) ++
        (1 to 5).flatMap(k => (Seq(-1L, 0L, 47L, 48L, 143L, 150L, 239L, 240L,
          999999L) ++ Seq.fill(5)(g.nextInt(240).toLong))
          .map(id => (s"/food_details/model$k/$id", None)))
      val answers = g.shuffle(requests).map { case (path, body) =>
        val a = call(resident, path, body)
        val b = call(distributed, path, body)
        assert(a == b, s"$path ${body.getOrElse("")}")
        a
      }
      // the cases the parity has to hold on actually occur
      val ok = answers.filter(_._1 == 200).map(_._2)
      assert(answers.count(_._1 == 404) >= 5) // ids outside the slice
      assert(ok.exists(_.contains(""""count":0""")))
      assert(ok.exists(b => b.contains(""""allergy":"ΣΟΦΙΑ"""") &&
        !b.contains(""""count":0""")))
      // a probe on a tied group whose top 5 a UTF-16 order would change
      assert(ok.exists(b => b.startsWith("""{"model_id":3""") &&
        b.contains("Ａ Crème") && !b.contains("\uD83C\uDF59")))
    } finally { resident.stop(); distributed.stop() }
  }

  test("no route submits a Spark job within the gate; above it, data routes do") {
    val payload = """{"Protein-G": 30.0, "Energy-KCAL": 400.0}"""
    val routes: Seq[(String, Option[String])] =
      (1 to 5).map(k => (s"/predict/$k", Some(payload))) ++ Seq(
        ("/find_allergen/model5?allergy=food_13", None),
        ("/food_details/model5/3", None), ("/stats/model5", None),
        ("/health", None))
    assert(server.boundPort > 0) // built, artifacts loaded, before counting
    val jobs = jobsDuring(routes.foreach { case (path, body) =>
      assert(call(server, path, body)._1 == 200, path)
    })
    assert(jobs == 0)
    val distributed = gatedOff(modelDir)
    try Seq(("/predict/3", Some(payload)), routes(5), routes(6)).foreach {
      case (path, body) =>
        val n = jobsDuring(assert(call(distributed, path, body)._1 == 200, path))
        assert(n >= 1, s"$path ran no job above the gate")
    } finally distributed.stop()
  }

  test("TCP nodelay: keep-alive requests are not held to the delayed-ACK floor") {
    // without nodelay every response after the first waits ~40 ms for
    // the client's delayed ACK
    val ms = keepAliveMs(server.boundPort, "/health", 20).sorted
    assert(ms(ms.size / 2) < 20.0, s"p50 ${ms(ms.size / 2)} ms of $ms")
  }
}
