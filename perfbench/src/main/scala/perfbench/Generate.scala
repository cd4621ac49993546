package perfbench

/** Writes the plant catalog for one seed and exits; the generator's
  * determinism test (`perfbench/test_plantgen.py`) compares two copies.
  *
  * Usage: Generate <dir> <seed> <cores> */
object Generate {
  def main(args: Array[String]): Unit = {
    val Array(dir, seed, cores) = args
    val spark = Main.session(cores.toInt, dir)
    PlantGen.write(spark, PlantGen.layout(seed.toLong), s"$dir/catalog", "plant")
    spark.stop()
  }
}
