package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.{Sessions, SparkEntry}

/** Computes the inventory's reference digests: every declared query over a
  * copy of the fixtures, with its row count. With a third argument, also
  * digests the `graft.Verify` output of each query found there, which ties
  * the stored digest to an output already compared with the DuckDB oracle.
  *
  * Usage: graftbench.MakeDigests <fixtureDir> <out.json> [verifyOutDir]
  */
object MakeDigests {
  def main(args: Array[String]): Unit = {
    val fixtures = Paths.get(args(0))
    val data = Files.createTempDirectory("graftbench-digests")
    Files2.parquetFiles(fixtures).foreach(f =>
      Files.copy(f, data.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    val spark = Sessions.tuned(s"local[${Main.Cores}]", Main.Cores.toString)
    val rows = SparkEntry.queries.keys.toSeq.sorted.map { q =>
      val df = SparkEntry.queries(q)(spark, data.toString)
      val verified = args.lift(2).map(d => Paths.get(d, q)).filter(Files.isDirectory(_))
        .map(d => Digest.of(spark.read.parquet(d.toString)))
      q -> Map("digest" -> Digest.of(df), "rows" -> df.count(), "verify_digest" -> verified)
    }
    Files.writeString(Paths.get(args(1)), Json.render(rows.toMap) + "\n")
    spark.stop()
    Files2.deleteTree(data)
  }
}
