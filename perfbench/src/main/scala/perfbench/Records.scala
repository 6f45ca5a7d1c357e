package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.util.Random

import graft.ml.FoodSchema

/** Seeded food records in the reference's 18-column schema. Every
  * description is unique (it ends in the record number), so ordering by
  * description is a total order and training slices are reproducible. */
object Records {
  val Allergens: IndexedSeq[String] = IndexedSeq("milk", "egg", "peanut",
    "wheat", "soy", "almond", "shrimp", "sesame", "cashew", "oat")
  private val Foods = IndexedSeq("bread", "cheese", "yogurt", "cereal",
    "cookie", "soup", "salad", "pasta", "chicken", "beef", "tofu",
    "cracker", "granola", "sauce", "muffin", "noodle", "burrito",
    "pudding", "smoothie", "bar")
  private val Styles = IndexedSeq("Baked", "Raw", "Roasted", "Fried",
    "Steamed", "Frozen", "Dried", "Smoked", "Spicy", "Sweet")

  final case class Food(values: IndexedSeq[Double], description: String) {
    def payload: Map[String, Double] = FoodSchema.numericCols.zip(values).toMap
  }

  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0

  def food(rng: Random, i: Long): Food = {
    def u = rng.nextDouble()
    val protein = 45 * math.pow(u, 2.5)
    val fat = 40 * u * u
    val carbs = 80 * u
    val energy = math.max(0.0, 4 * protein + 9 * fat + 4 * carbs +
      15 * rng.nextGaussian())
    val values = IndexedSeq(protein, fat, carbs, energy, carbs * u,
      10 * u * u, 500 * u * u, 10 * u * u, 1500 * u * u, 10 * u * u * u,
      200 * u * u, fat * u * 0.5, 800 * u, 60 * u * u * u, u, 3 * u * u * u,
      5 * u * u).map(r2)
    val base = s"${Styles(rng.nextInt(Styles.size))} " +
      Foods(rng.nextInt(Foods.size))
    val desc =
      if (rng.nextDouble() < 0.6)
        s"$base with ${Allergens(rng.nextInt(Allergens.size))} #$i"
      else s"$base #$i"
    Food(values, desc)
  }

  def all(n: Int, seed: Long): IndexedSeq[Food] = {
    val rng = new Random(seed)
    (0 until n).map(i => food(rng, i.toLong))
  }

  def jsonLine(f: Food): String =
    FoodSchema.numericCols.zip(f.values)
      .map { case (c, v) => Json.quote(c) + ":" + v }
      .:+(Json.quote(FoodSchema.descriptionCol) + ":" + Json.quote(f.description))
      .mkString("{", ",", "}")

  /** Writes the records as JSON-lines files of `perFile` records each;
    * returns the files in name order. */
  def writeJsonLines(foods: Seq[Food], dir: Path, perFile: Int): Seq[Path] =
    foods.grouped(perFile).zipWithIndex.map { case (chunk, i) =>
      val f = dir.resolve(f"part-$i%05d.json")
      Files.write(f, chunk.map(jsonLine).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    }.toList
}
