package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Random, Try}

import org.apache.spark.ml.PipelineModel

import graft.ml.{Serve, Trainer}

/** The serving route mix and the two ways of offering it to a server:
  * an open loop on a fixed schedule and a closed loop of waiting
  * clients. */
final class Traffic(base: String, foods: IndexedSeq[Records.Food]) {
  import Traffic._

  /** `n` requests of the mix in seeded order, in blocks of 100 so every
    * whole block holds exactly: predict routes 60% (12% per model),
    * /find_allergen 15%, /food_details 15%, /stats 5%, /health 5%. The
    * weights are assumed: the reference documents its routes but not how
    * often each is called. */
  def deck(n: Int, g: Random): Seq[Req] = {
    def one(slot: Int): Req = {
      val k = 1 + g.nextInt(Trainer.NumModels)
      if (slot < 60) Predict(1 + slot / 12, foods(g.nextInt(foods.size)))
      else if (slot < 75) Allergen(k, Records.Allergens(g.nextInt(Records.Allergens.size)))
      else if (slot < 90) Details(k, g.nextInt(foods.size * k / Trainer.NumModels).toLong)
      else if (slot < 95) SliceStats(k)
      else Health
    }
    (0 until n by 100).flatMap { b =>
      g.shuffle((0 until 100).toVector).take(math.min(100, n - b)).map(one)
    }
  }

  /** Sends `q` at `rate` requests per second from a scheduler thread,
    * each on one of `threads` sender threads; latency counts from the
    * request's due time, and each result records how late the scheduler
    * released it. */
  def openLoop(q: Seq[Req], rate: Int, threads: Int): Seq[(Done, Double)] = {
    val pool = Executors.newFixedThreadPool(threads)
    val out = ArrayBuffer.empty[(Done, Double)]
    val t0 = System.nanoTime() + 50000000L
    try {
      q.zipWithIndex.foreach { case (req, i) =>
        val due = t0 + i * (1000000000L / rate)
        val wait = due - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        val lateMs = (System.nanoTime() - due) / 1e6
        pool.execute(() => {
          val d = send(req, due)
          out.synchronized { out += ((d, lateMs)) }
        })
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
    }
    out.toList
  }

  /** Each list is one client sending its next request when the previous
    * one returns; all clients start together. */
  def closedLoop(lists: Seq[Seq[Req]]): Seq[Done] = {
    val pool = Executors.newFixedThreadPool(lists.size)
    try lists.map(l => pool.submit(() => l.map(req => send(req)))).flatMap(_.get())
    finally pool.shutdown()
  }

  def send(req: Req, due: Long = System.nanoTime()): Done = {
    val (code, body) = Try(req.exec(base)).getOrElse((-1, ""))
    Done(req, code, body, (System.nanoTime() - due) / 1e6)
  }
}

object Traffic {
  sealed trait Req {
    def group: String
    def route: String
    def exec(base: String): (Int, String)
  }
  final case class Predict(k: Int, food: Records.Food) extends Req {
    def group = "predict"
    def route = s"/predict/$k"
    def exec(base: String) = Http.post(base + route, Json.enc(food.payload))
  }
  final case class Allergen(k: Int, term: String) extends Req {
    def group = "lookup"
    def route = "/find_allergen"
    def exec(base: String) = Http.get(s"$base/find_allergen/model$k?allergy=" +
      URLEncoder.encode(term, StandardCharsets.UTF_8))
  }
  final case class Details(k: Int, id: Long) extends Req {
    def group = "lookup"
    def route = "/food_details"
    def exec(base: String) = Http.get(s"$base/food_details/model$k/$id")
  }
  final case class SliceStats(k: Int) extends Req {
    def group = "lookup"
    def route = "/stats"
    def exec(base: String) = Http.get(s"$base/stats/model$k")
  }
  case object Health extends Req {
    def group = "health"
    def route = "/health"
    def exec(base: String) = Http.get(s"$base/health")
  }

  final case class Done(req: Req, code: Int, body: String, ms: Double)

  /** Checks every response against what the route promises; `models`
    * are the served models, loaded separately, to score the local
    * routes directly. */
  def verify(all: Seq[Done], records: Long, models: Map[Int, PipelineModel],
      r: Report): Unit = {
    val bad = all.filter(_.code != 200)
    r.check("every_response_200", bad.isEmpty,
      bad.take(3).map(d => s"${d.req.route} ${d.code}").mkString("; "))
    def json(d: Done) = Try(Json.parse(d.body)).toOption
    def all200(name: String)(ok: PartialFunction[Done, Boolean]): Unit =
      r.check(name, all.filter(_.code == 200).forall(d => ok.applyOrElse(d, (_: Done) => true)))
    all200("predict3_five_recommendations_ascending") {
      case d @ Done(Predict(3, _), _, _, _) => json(d).exists { j =>
        val recs = j.path("recommendations")
        val ds = (0 until recs.size).map(i => recs.get(i).path("cosine_distance").asDouble)
        ds.size == 5 && ds.zip(ds.drop(1)).forall { case (a, b) => a <= b }
      }
    }
    all200("allergen_matches_contain_term") {
      case d @ Done(Allergen(_, term), _, _, _) => json(d).exists { j =>
        val m = j.path("matches")
        (0 until m.size).forall(i =>
          m.get(i).path("description").asText.toLowerCase.contains(term))
      }
    }
    all200("food_details_echo_id") {
      case d @ Done(Details(_, id), _, _, _) =>
        json(d).exists(_.path("id").asLong(-1) == id)
    }
    all200("stats_report_slice_size") {
      case d @ Done(SliceStats(k), _, _, _) => json(d).exists(
        _.path("total_records").asLong(-1) == records * k / Trainer.NumModels)
    }
    all200("health_reports_healthy") {
      case d @ Done(Health, _, _, _) =>
        json(d).exists(_.path("overall_status").asText == "healthy")
    }
    all200("local_predictions_match_serve") {
      case d @ Done(Predict(k, f), _, _, _) if k != 3 => json(d).exists { j =>
        val p = f.payload
        k match {
          case 1 | 2 => j.path("prediction").asInt(-1) == Serve.localCluster(models(k), p)
          case 4 => j.path("predicted_energy_kcal").asDouble ==
            Serve.localEnergy(models(4), p)
          case 5 =>
            val (label, prob) = Serve.localProtein(models(5), p)
            j.path("is_high_protein").asBoolean == (label == 1.0) &&
              j.path("probability").asDouble == prob
        }
      }
    }
  }

  /** Count, errors and latency quantiles per route. */
  def byRoute(xs: Seq[Done]): Map[String, Map[String, Any]] =
    xs.groupBy(_.req.route).map { case (route, ds) =>
      val ms = ds.map(_.ms)
      route -> Map("n" -> ds.size, "errors" -> ds.count(_.code != 200),
        "p50_ms" -> Stats.median(ms), "p99_ms" -> Stats.percentile(ms, 99),
        "max_ms" -> ms.max)
    }
}
