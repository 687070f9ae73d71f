package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property test for the graft-kv split protocol: for ANY file content and
  * ANY chunk size, every parseable line is delivered exactly once — the
  * invariant the reference's read_exact splitter violates (tail loss,
  * mid-token cuts; src/utils.rs:30) — with LF or CRLF line ends; and the
  * writer either round-trips a row exactly or refuses it. */
class KVSourcePropertySpec extends SparkTestBase {

  private val token = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val line = for {
    k <- token
    nv <- Gen.choose(0, 3)
    vs <- Gen.listOfN(nv, token)
  } yield if (vs.isEmpty) k else s"$k ${vs.mkString(" ")}"

  test("any content × any chunk size: exactly-once line delivery") {
    val prop = Prop.forAll(Gen.listOfN(60, line), Gen.choose(1, 200)) {
      (lines: List[String], chunk: Int) =>
        val dir = Files.createTempDirectory("kvprop").toString
        Files.write(Paths.get(dir, "f.txt"), lines.mkString("\n").getBytes)
        val got = spark.read.format("graft-kv").option("chunkSize", chunk.toLong).load(dir)
          .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
          .groupBy(identity).view.mapValues(_.size).toMap
        // expected: every line containing a space, with multiplicity
        val want = lines.filter(_.contains(' '))
          .map { l => val Array(k, v) = l.split(" ", 2); k -> v }
          .groupBy(identity).view.mapValues(_.size).toMap
        got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("CRLF content × any chunk size: exactly-once delivery, no trailing \\r") {
    val ended = for { l <- line; crlf <- Gen.oneOf(true, false) } yield (l, crlf)
    val prop = Prop.forAll(Gen.listOfN(60, ended), Gen.choose(1, 200)) {
      (lines: List[(String, Boolean)], chunk: Int) =>
        val dir = Files.createTempDirectory("kvpropcr").toString
        Files.write(Paths.get(dir, "f.txt"),
          lines.map { case (l, crlf) => if (crlf) l + "\r\n" else l + "\n" }.mkString.getBytes)
        val got = spark.read.format("graft-kv").option("chunkSize", chunk.toLong).load(dir)
          .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
          .groupBy(identity).view.mapValues(_.size).toMap
        val want = lines.map(_._1).filter(_.contains(' '))
          .map { l => val Array(k, v) = l.split(" ", 2); k -> v }
          .groupBy(identity).view.mapValues(_.size).toMap
        got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("any rows: the writer round-trips every row it accepts and fails on any it cannot represent") {
    import spark.implicits._
    val field = Gen.listOf(Gen.oneOf('a', 'b', ' ', '\t', '\n', '\r', '\u00e9')).map(_.mkString)
    val rows = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.zip(field, field)))
    def representable(k: String, v: String) =
      k.nonEmpty && !k.exists(" \n\r".contains(_)) && !v.exists("\n\r".contains(_))
    val prop = Prop.forAll(rows) { (rs: List[(String, String)]) =>
      val dir = Files.createTempDirectory("kvproprt").toString + "/out"
      val write = scala.util.Try(rs.toDF("key", "value").write.format("graft-kv").mode("overwrite").save(dir))
      if (rs.forall { case (k, v) => representable(k, v) })
        write.isSuccess && spark.read.format("graft-kv").load(dir).collect()
          .map(r => r.getString(0) -> r.getString(1)).toSeq.sorted == rs.sorted
      else write.failed.toOption.exists(e => String.valueOf(e.getMessage).contains("graft-kv"))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }
}
