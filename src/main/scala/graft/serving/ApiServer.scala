package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lower}
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.ml.{FoodSchema, Serve, Trainer}
import graft.operators.{GatedBroadcast, Overlap}

/** The reference's serving API (api_server/api.py:172-269), minus
  * Flask: `POST /predict/<model_id>` routes by model type over the
  * artifacts a Trainer run produced, `GET /health` reports the
  * tri-state healthy/degraded/unhealthy summary from per-model load
  * flags (api.py:240-269), and the three README data-surface routes
  * (README.md:116-132) — `GET /find_allergen/model<k>?allergy=x`,
  * `GET /food_details/model<k>/<id>`, `GET /stats/model<k>` — serve
  * model k's cumulative data slice from the food_data artifact. Built
  * on the JDK HTTP server — no extra dependencies.
  *
  * No route submits a Spark job while the artifacts are driver-resident:
  * models 1, 2, 4 and 5 always score driver-locally (Serve.local*), and
  * while food_data's measured row count is within
  * `GatedBroadcast.rowLimit / 10` (the gate of a broadcast rebuilt per
  * use: holding a copy on the driver is the first half of a broadcast),
  * the constructor also collects model 3's recommendation snapshot and
  * food_data's columns, and `/predict/3`, `/find_allergen` and
  * `/food_details` answer from those. Above the gate they run as Spark
  * jobs (Serve.recommend, pruned parquet scans): that distributed path
  * is the scale path and the parity oracle ApiServerSpec holds the
  * driver-resident one to, byte for byte.
  *
  * Request payloads are the reference's flat JSON objects
  * (feature name -> number); absent features default to 0.0
  * (api.py:164), and a malformed body or a non-numeric feature value is
  * a 400, where the reference's `float(...)` raises.
  */
class ApiServer(spark: SparkSession, modelDir: String, port: Int = 0) {

  /** The artifacts, loaded at once through one `Overlap` scope: the
    * five models, food_data and its count, then, once the count has
    * set the gate, the driver-resident copies of the data routes'
    * artifacts (None above the gate, where those routes run
    * distributed). A missing model or snapshot stays absent, as
    * `/health` reports, without cancelling the other loads. */
  private val (models, foods, foodCount, foodColumns, recoSnapshot) =
    Overlap.scope { o =>
      val loads = (1 to Trainer.NumModels).map(k =>
        k -> o.fork(Try(Trainer.loadModel(modelDir, k)).toOption)).toMap
      val counted = o.fork(Try(spark.read.parquet(s"$modelDir/food_data"))
        .toOption.map(df => df -> df.count()))
      val foods = counted.join.map(_._1)
      val foodCount = counted.join.fold(0L)(_._2)
      val resident = foods.filter(df =>
        foodCount <= GatedBroadcast.rowLimit(df) / 10)
      val columns = o.fork(resident.filter(ApiServer.FoodColumns.fits)
        .map(ApiServer.FoodColumns.load(_, foodCount.toInt)))
      // a missing snapshot keeps the distributed path, which reports it
      // per request as it always has
      val snapshot = o.fork(
        if (resident.isEmpty || loads(3).join.isEmpty) None
        else Try(Serve.loadRecoSnapshot(spark, s"$modelDir/reco_snapshot")).toOption)
      val models: Map[Int, PipelineModel] =
        loads.flatMap { case (k, f) => f.join.map(k -> _) }.toMap
      (models, foods, foodCount, columns.join, snapshot.join)
    }

  private val server = ApiServer.createServer(port)
  // the JDK server's default executor is the caller thread — serialize
  // -free concurrent request handling needs a real pool (the driver-side
  // scoring in Serve.local* is stateless, so handlers are thread-safe).
  // HttpServer.stop() does NOT terminate a caller-supplied executor, so
  // stop() below must shut it down or its non-daemon threads outlive us.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(pool)

  def boundPort: Int = server.getAddress.getPort

  /** Parse the reference's flat {"name": number, ...} payload. Throws
    * IllegalArgumentException on a body that is not a JSON object or a
    * feature whose value is not a number; other keys' non-numeric
    * values are ignored, as the reference reads only its features. */
  private[serving] def parseFlatJson(body: String): Map[String, Double] = {
    val root = Try(ApiServer.Json.readTree(body)).toOption.filter(_.isObject)
      .getOrElse(throw new IllegalArgumentException(
        "request body must be a JSON object"))
    root.properties().asScala.flatMap { e =>
      if (e.getValue.isNumber) Some(e.getKey -> e.getValue.asDouble)
      else if (FoodSchema.numericCols.contains(e.getKey))
        throw new IllegalArgumentException(s"${e.getKey} must be a number")
      else None
    }.toMap
  }

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def respond(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def errorJson(e: Throwable): String =
    s"""{"error":"${jsonEscape(String.valueOf(e.getMessage))}"}"""

  /** One JSON value of a food_data field: strings quoted, NULL and the
    * non-JSON NaN/Infinity as null, other values as their toString. */
  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => s""""${jsonEscape(s)}""""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case f: Float if f.isNaN || f.isInfinite => "null"
    case x => x.toString
  }

  private def predict(modelId: Int, payload: Map[String, Double]): String =
    modelId match {
      case 1 | 2 =>
        val cluster = Serve.localCluster(models(modelId), payload)
        s"""{"model_id":$modelId,"model_type":"clustering","prediction":$cluster}"""
      case 3 =>
        val recs = recoSnapshot match {
          case Some(snap) => Serve.localRecommend(models(3), snap, payload)
          case None =>
            Serve.recommend(spark, models(3), s"$modelDir/reco_snapshot",
              payload).collect().toSeq.map(r => r.getString(0) -> r.getDouble(1))
        }
        val items = recs.map { case (desc, dist) =>
          s"""{"description":"${jsonEscape(desc)}","cosine_distance":${"%.4f".format(dist)}}"""
        }.mkString("[", ",", "]")
        s"""{"model_id":3,"model_type":"recommendation","recommendations":$items}"""
      case 4 =>
        val energy = Serve.localEnergy(models(4), payload)
        s"""{"model_id":4,"model_type":"regression","predicted_energy_kcal":$energy}"""
      case 5 =>
        val (label, p) = Serve.localProtein(models(5), payload)
        s"""{"model_id":5,"model_type":"classification","is_high_protein":${label == 1.0},"probability":$p}"""
    }

  server.createContext("/predict/", (ex: HttpExchange) => {
    val id = Try(ex.getRequestURI.getPath.stripPrefix("/predict/").toInt)
    val bytes = ex.getRequestBody.readNBytes(ApiServer.MaxBodyBytes + 1)
    val body = new String(bytes, StandardCharsets.UTF_8)
    (ex.getRequestMethod, id.toOption) match {
      case _ if bytes.length > ApiServer.MaxBodyBytes =>
        respond(ex, 413,
          s"""{"error":"request body over ${ApiServer.MaxBodyBytes} bytes"}""")
      case ("POST", Some(k)) if k >= 1 && k <= Trainer.NumModels =>
        if (!models.contains(k))
          // known-but-unloaded is 404, matching api.py:192,203,216,224
          respond(ex, 404, s"""{"error":"model $k not loaded"}""")
        else Try(parseFlatJson(body)) match {
          case Failure(e) => respond(ex, 400, errorJson(e))
          case Success(payload) => Try(predict(k, payload)).fold(
            e => respond(ex, 500, errorJson(e)),
            json => respond(ex, 200, json))
        }
      case ("POST", _) =>
        respond(ex, 400,
          s"""{"error":"model_id must be 1..${Trainer.NumModels}"}""")
      case _ =>
        respond(ex, 405, """{"error":"POST only"}""")
    }
  })

  // ------------------------------------------------------------------
  // README data-surface routes (reference README.md:116-132): each
  // serves model k's cumulative training slice (rn < n*k/NumModels)
  // from the food_data artifact trainAll wrote — from its
  // driver-resident columns within the gate, otherwise as (tiny,
  // pruned) Spark jobs whose scan pushes both the slice bound and the
  // route predicate into parquet.
  // ------------------------------------------------------------------

  /** Parse the `model<k>` path segment; None for malformed/unknown. */
  private def modelSeg(seg: String): Option[Int] =
    if (seg.startsWith("model"))
      Try(seg.stripPrefix("model").toInt).toOption
        .filter(k => k >= 1 && k <= Trainer.NumModels)
    else None

  private def sliceBound(k: Int): Long = Trainer.sliceBound(foodCount, k)

  /** Model k's slice of food_data, for the distributed path. */
  private def slice(k: Int): DataFrame =
    foods.get.filter(col(Trainer.RnCol) < sliceBound(k))

  private def withSlice(ex: HttpExchange, seg: String)(f: Int => Unit): Unit =
    (modelSeg(seg), foods) match {
      case (None, _) =>
        respond(ex, 404, """{"error":"unknown model"}""")
      case (_, None) =>
        respond(ex, 404, """{"error":"no food_data artifact loaded"}""")
      case (Some(k), _) if !models.contains(k) =>
        // a slice trainAll skipped (< minRows) has no model_k artifact;
        // describing its data would report on a model that was never
        // trained — 404, matching the reference's per-model load flags
        respond(ex, 404, s"""{"error":"model $k not loaded"}""")
      case (Some(k), _) => f(k)
    }

  /** GET /stats/model<k> — record count of the model's data slice
    * (README.md:128-132). */
  server.createContext("/stats/", (ex: HttpExchange) => {
    val seg = ex.getRequestURI.getPath.stripPrefix("/stats/")
    withSlice(ex, seg) { k =>
      // contiguous index => the slice size is n*k/NumModels by
      // construction; no job needed for a count
      respond(ex, 200,
        s"""{"model":"model$k","total_records":${sliceBound(k)}}""")
    }
  })

  /** GET /find_allergen/model<k>?allergy=<name> — case-insensitive
    * substring search over the slice's descriptions
    * (README.md:116-120): the first 100 matches by id. */
  server.createContext("/find_allergen/", (ex: HttpExchange) => {
    val seg = ex.getRequestURI.getPath.stripPrefix("/find_allergen/")
    // parse the RAW query: getQuery already percent-decodes, so using it
    // would both double-decode (throwing on literal '%') and let an
    // encoded '&' in the value truncate the term at the split
    val allergy = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split("&").collectFirst {
        case p if p.startsWith("allergy=") =>
          Try(java.net.URLDecoder.decode(
            p.stripPrefix("allergy="), StandardCharsets.UTF_8))
            .getOrElse(p.stripPrefix("allergy="))
      }
    (allergy, seg) match {
      case (None, _) =>
        respond(ex, 400, """{"error":"allergy query parameter required"}""")
      case (Some(a), _) => withSlice(ex, seg) { k =>
        // Locale.ROOT to match Spark's locale-independent lower():
        // default-locale toLowerCase maps 'I' to dotless-i under a
        // Turkish JVM locale and the match silently fails
        val term = a.toLowerCase(java.util.Locale.ROOT)
        val hits = foodColumns match {
          case Some(c) => c.matching(term, sliceBound(k), ApiServer.MaxMatches)
          case None => slice(k)
            .filter(lower(col(FoodSchema.descriptionCol)).contains(term))
            .select(col(Trainer.RnCol), col(FoodSchema.descriptionCol))
            .orderBy(col(Trainer.RnCol))
            .limit(ApiServer.MaxMatches).collect().toSeq
            .map(r => r.getLong(0) -> r.getString(1))
        }
        val items = hits.map { case (id, desc) =>
          s"""{"id":$id,"description":"${jsonEscape(desc)}"}"""
        }.mkString("[", ",", "]")
        respond(ex, 200,
          s"""{"model":"model$k","allergy":"${jsonEscape(a)}",""" +
            s""""count":${hits.length},"matches":$items}""")
      }
    }
  })

  /** GET /food_details/model<k>/<id> — point lookup by the stable row
    * id within the model's slice (README.md:122-126). */
  server.createContext("/food_details/", (ex: HttpExchange) => {
    val parts = ex.getRequestURI.getPath
      .stripPrefix("/food_details/").split("/")
    (parts.lift(0), parts.lift(1).flatMap(s => Try(s.toLong).toOption)) match {
      case (Some(seg), Some(id)) => withSlice(ex, seg) { k =>
        val fields = foodColumns match {
          case Some(c) =>
            if (id >= 0 && id < sliceBound(k)) Some(c.row(id.toInt)) else None
          case None =>
            slice(k).filter(col(Trainer.RnCol) === id).collect().headOption
              .map(r => r.schema.fieldNames.toSeq.zip(r.toSeq)
                .filter(_._1 != Trainer.RnCol))
        }
        fields match {
          case None =>
            respond(ex, 404,
              s"""{"error":"id $id not in model$k's slice"}""")
          case Some(fs) =>
            val details = fs.map { case (name, v) =>
              s""""${jsonEscape(name)}":${jsonValue(v)}"""
            }.mkString("{", ",", "}")
            respond(ex, 200,
              s"""{"model":"model$k","id":$id,"details":$details}""")
        }
      }
      case _ =>
        respond(ex, 404, """{"error":"/food_details/model<k>/<id>"}""")
    }
  })

  server.createContext("/health", (ex: HttpExchange) => {
    // tri-state summary from per-model availability, in the reference's
    // exact response shape (api.py:241-269): overall_status +
    // operational_models + total_expected_models + per-model
    // "model_<id>_<type>": "operational"|"not_operational" details
    val loaded = (1 to Trainer.NumModels).filter(models.contains)
    val status =
      if (loaded.size == Trainer.NumModels) "healthy"
      else if (loaded.nonEmpty) "degraded"
      else "unhealthy"
    val details = (1 to Trainer.NumModels).map { k =>
      val op = if (models.contains(k)) "operational" else "not_operational"
      s""""model_${k}_${Trainer.modelType(k)}":"$op""""
    }.mkString("{", ",", "}")
    respond(ex, if (status == "unhealthy") 503 else 200,
      s"""{"overall_status":"$status","operational_models":${loaded.size},""" +
        s""""total_expected_models":${Trainer.NumModels},"details":$details}""")
  })

  def start(): ApiServer = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

object ApiServer {
  // The JDK server reads this once per JVM, when it creates its first
  // server. Off (its default), Nagle's algorithm holds a response's
  // second segment for the client's delayed ACK: a ~40 ms floor under
  // every request on a keep-alive connection.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** Every server is created here, so the property above is set first. */
  private def createServer(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress(port), 0)

  private val Json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** /find_allergen's cap on returned matches. */
  private val MaxMatches = 100

  /** /predict's cap on the request body: a larger body is a 413, so
    * one request cannot fill the driver heap. */
  private val MaxBodyBytes = 1 << 20

  /** food_data on the driver, one array per column, indexed by its
    * contiguous `__graft_rn`: `Array[Double]` per double column (NULL
    * held as NaN, which renders as the same JSON null), `Array[String]`
    * per string column. Spark's `lower()` maps an all-ASCII string as
    * `toLowerCase(Locale.ROOT)` does; for the other descriptions, whose
    * mapping depends on Spark's case rules, `lowered` keeps what Spark
    * returned (null for ASCII ones, to hold no second copy). */
  private final class FoodColumns(
      names: Array[String], columns: Array[AnyRef],
      descriptions: Array[String], lowered: Array[String]) {

    /** The first `limit` (id, description) with id < `bound` whose
      * lowered description contains `term`. */
    def matching(term: String, bound: Long, limit: Int): Seq[(Long, String)] = {
      val out = Seq.newBuilder[(Long, String)]
      var n = 0
      var i = 0
      while (i < bound && n < limit) {
        val d = descriptions(i)
        val l = if (lowered(i) != null) lowered(i)
          else if (d != null) d.toLowerCase(java.util.Locale.ROOT) else null
        if (l != null && l.contains(term)) {
          out += (i.toLong -> d); n += 1
        }
        i += 1
      }
      out.result()
    }

    /** Row `id`'s fields in food_data's column order. */
    def row(id: Int): Seq[(String, Any)] =
      names.indices.map(c => names(c) -> scala.runtime.ScalaRunTime.array_apply(columns(c), id))
  }

  private object FoodColumns {
    /** Whether every column but the id is a double or a string, with a
      * string description: the shapes FoodColumns holds. */
    def fits(df: DataFrame): Boolean =
      df.schema.forall(f => f.name == Trainer.RnCol ||
        f.dataType == DoubleType || f.dataType == StringType) &&
        df.schema.exists(f => f.name == FoodSchema.descriptionCol &&
          f.dataType == StringType)

    /** Collects `df`'s `n` rows: one job, and one more to lowercase the
      * non-ASCII descriptions only if there are any, since Spark's first
      * `lower()` of such a string starts its case-mapping library (over
      * a second on a 4-core box). */
    def load(df: DataFrame, n: Int): FoodColumns = {
      val fields = df.schema.fields.filter(_.name != Trainer.RnCol)
      val columns = fields.map[AnyRef](f =>
        if (f.dataType == DoubleType) new Array[Double](n) else new Array[String](n))
      df.select(col(Trainer.RnCol) +: fields.toSeq.map(f => col(f.name)): _*)
        .collect().foreach { r =>
          val id = r.getLong(0).toInt
          fields.indices.foreach { c =>
            columns(c) match {
              case d: Array[Double] =>
                d(id) = if (r.isNullAt(c + 1)) Double.NaN else r.getDouble(c + 1)
              case s: Array[String] => s(id) = r.getString(c + 1)
            }
          }
        }
      val desc = columns(fields.indexWhere(_.name == FoodSchema.descriptionCol))
        .asInstanceOf[Array[String]]
      val lowered = new Array[String](n)
      if (desc.exists(d => d != null && d.exists(_ >= 0x80)))
        df.where(col(FoodSchema.descriptionCol).rlike("[^\\x00-\\x7F]"))
          .select(col(Trainer.RnCol), lower(col(FoodSchema.descriptionCol)))
          .collect().foreach(r => lowered(r.getLong(0).toInt) = r.getString(1))
      new FoodColumns(fields.map(_.name), columns, desc, lowered)
    }
  }
}
