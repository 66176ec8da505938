package graftbench

import java.nio.file.Path
import java.security.MessageDigest

import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

/** Generator determinism test: every workload's inputs, generated twice
  * from one seed, are byte-identical (the Spark-built lake tables:
  * identical row content); a second seed gives different inputs.
  */
object GenCheck {

  private def sha(parts: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def digests(seed: Long, work: Path): Map[String, String] = {
    val spark = Main.session(work, 2)
    val lake = Gen.lakeTables(spark, seed, 0.01).toSeq.sortBy(_._1).map { case (n, df) =>
      val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(count(lit(1)), bit_xor(col("h"))).collect()(0)
      s"$n:${r.getLong(0)}:${r.getLong(1)}"
    }
    Map(
      "ingest" -> sha((0 until 5).map(i => Gen.stockCsv(Gen.stockFile(seed, i, 1500)))),
      "cdc" -> sha(Gen.cdcInitial(seed).map(_.json) ++
        Gen.cdcFiles(seed, 20, 120).flatten.map(Gen.envelope)),
      "dedup_stream" -> sha(Gen.dedupBatches(seed, 6, 300).flatten
        .map(d => s"${d.id}:${d.tokens.mkString(" ")}\n")),
      "lake_rw" -> sha(lake ++ LakeRw.ops(seed, 60, "db").map(_.toString)))
  }

  def run(work: Path): Boolean = {
    val a = digests(7L, work)
    val b = digests(7L, work)
    val c = digests(8L, work)
    val results = a.keys.toSeq.sorted.map { k =>
      val same = a(k) == b(k)
      val differs = a(k) != c(k)
      println(s"generator $k same_seed_identical=$same other_seed_differs=$differs")
      same && differs
    }
    val ok = results.forall(identity)
    println(if (ok) "generators OK" else "generators FAIL")
    ok
  }
}
