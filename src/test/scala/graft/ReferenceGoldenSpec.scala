package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.jobs.ReferenceJobs

/** Golden end-to-end fidelity against the reference's own artifacts
  * (SURVEY.md §5): W4 runs verbatim on the shipped sample.data and must
  * reproduce final_result.out bit-for-bit (modulo the reference's
  * nondeterministic line/set order — compared canonicalized, sorted
  * lines + sorted set members). W1–W3 goldens lack their inputs
  * (.MISSING_LARGE_BLOBS), so they are checked against in-test oracles
  * on small deterministic inputs.
  */
class ReferenceGoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val refDir = "/root/reference/exampleCodes"

  test("W4 suspects reproduces the reference golden output on sample.data") {
    val golden = scala.io.Source.fromFile(s"$refDir/finding_the_suspects/final_result.out")
      .getLines().filter(_.nonEmpty)
      .map { line =>
        val parts = line.trim.split("\\s+")
        (parts.head, parts.tail.sorted.toSeq)
      }.toSeq.sortBy(_._1)

    val got = ReferenceJobs.suspects(spark, s"$refDir/finding_the_suspects/sample.data")
      .collect()
      .map(r => (r.getString(0), r.getSeq[String](1).sorted))
      .toSeq.sortBy(_._1)

    assert(got.size === 17)
    assert(got === golden)
  }

  test("the reference's VERBATIM mapper.py/reducer.py reproduce the golden output via the argv contract") {
    // the reference runs user programs as `prog <in> <out>` over chunk
    // files (Worker.java:138, Master.java:184,201); Pipe.argvMapReduce
    // replicates that contract exactly, so the unmodified shipped
    // programs must reproduce final_result.out end-to-end
    val dir = s"$refDir/finding_the_suspects"
    val lines = spark.read.textFile(s"$dir/sample.data").repartition(4)
    val out = graft.mr.Pipe.argvMapReduce(lines, s"$dir/mapper.py", s"$dir/reducer.py")
      .collect().filter(_.trim.nonEmpty)
      .map { line =>
        val parts = line.trim.split("\\s+")
        (parts.head, parts.tail.sorted.toSeq)
      }.toSeq.sortBy(_._1)

    val golden = scala.io.Source.fromFile(s"$dir/final_result.out")
      .getLines().filter(_.nonEmpty)
      .map { line =>
        val parts = line.trim.split("\\s+")
        (parts.head, parts.tail.sorted.toSeq)
      }.toSeq.sortBy(_._1)

    assert(out.size === 17)
    assert(out === golden)
  }

  test("the reference's VERBATIM C++ mapper/reducer compile on-worker and count words") {
    // the reference's cpp path compiles user code on the worker with
    // `g++ --std=c++11` and runs the binary under the argv contract
    // (Worker.java:145-153); word_count's sample.data is not shipped
    // (.MISSING_LARGE_BLOBS), so the unmodified mapper.cpp/reducer.cpp
    // run against a generated input and an in-test oracle
    import spark.implicits._
    val words = Seq("akbar", "alireza", "armin", "hooman", "melika", "milad")
    val rnd = new scala.util.Random(13)
    val data = Seq.fill(3000)(Seq.fill(1 + rnd.nextInt(4))(
      words(rnd.nextInt(words.size))).mkString(" "))
    val expected = data.flatMap(_.split("\\s+")).groupBy(identity)
      .view.mapValues(_.size).toMap
    val out = graft.mr.Pipe.argvMapReduce(data.toDS().repartition(4),
      s"$refDir/word_count/mapper.cpp", s"$refDir/word_count/reducer.cpp")
      .collect().filter(_.trim.nonEmpty)
      .map { l => val p = l.trim.split("\\s+"); (p(0), p(1).toInt) }
    assert(out.toMap === expected)
    // reducer iterates a std::map — output is word-sorted like the golden
    assert(out.map(_._1).toSeq === out.map(_._1).toSeq.sorted)
  }

  test("the reference's VERBATIM char_count mapper.py/reduce.py count chars via the argv contract") {
    import spark.implicits._
    // alphanumeric-only input: the reference's OWN reduce.py splits its
    // "ch n" lines on whitespace, so a counted space character would
    // crash it (tmp[1] IndexError) — running verbatim means faithfully
    // keeping that constraint, not fixing it
    val rnd = new scala.util.Random(17)
    val data = Seq.fill(400)(Seq.fill(3 + rnd.nextInt(20))(
      ('a' + rnd.nextInt(6)).toChar).mkString)
    val expected = data.flatMap(_.toSeq).groupBy(identity)
      .map { case (c, cs) => (c.toString, cs.size) }
    val out = graft.mr.Pipe.argvMapReduce(data.toDS().repartition(4),
      s"$refDir/char_count/mapper.py", s"$refDir/char_count/reduce.py")
      .collect().filter(_.trim.nonEmpty)
      .map { l => val p = l.trim.split("\\s+"); (p(0), p(1).toInt) }.toMap
    assert(out === expected)
  }

  test("the reference's VERBATIM peek_numbers mapper.cpp/reducer.cpp find peaks via on-worker compile") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val ops = Seq("mci", "mtn", "rtl")
    val rows = Seq.tabulate(250) { _ =>
      val st = rnd.nextInt(500)
      (ops(rnd.nextInt(3)), s"n${rnd.nextInt(30)}", st, st + rnd.nextInt(80))
    }
    // sweep oracle: per op, max over seconds of distinct active numbers
    val expected = ops.map { op =>
      op -> (0 to 600).map { sec =>
        rows.filter(r => r._1 == op && r._3 <= sec && sec <= r._4).map(_._2).distinct.size
      }.max
    }.toMap
    val lines = rows.map { case (o, n, s0, e0) => s"$o $n $s0 $e0" }
    val out = graft.mr.Pipe.argvMapReduce(lines.toDS().repartition(4),
      s"$refDir/finding_peek_numbers/mapper.cpp", s"$refDir/finding_peek_numbers/reducer.cpp")
      .collect().filter(_.trim.nonEmpty)
      .map { l => val p = l.trim.split(":\\s*"); (p(0), p(1).trim.toInt) }.toMap
    assert(out === expected)
  }

  test("W1 word count matches a scala oracle on a generated input") {
    import spark.implicits._
    val words = Seq("akbar", "alireza", "armin", "hooman", "melika", "milad")
    val rnd = new scala.util.Random(7)
    val lines = Seq.fill(5000)(words(rnd.nextInt(words.size)))
    val path = java.nio.file.Files.createTempDirectory("w1").resolve("in.txt")
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes)

    val expected = lines.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = ReferenceJobs.wordCount(spark, path.toString)
      .as[(String, Long)].collect().toMap
    assert(got === expected)
    // ordered by word, like the reference's std::map iteration
    val ordered = ReferenceJobs.wordCount(spark, path.toString)
      .select("word").as[String].collect()
    assert(ordered.toSeq === ordered.toSeq.sorted)
  }

  test("W2 char count counts every non-newline char including spaces") {
    import spark.implicits._
    val lines = Seq("ab ba", "aa  b")
    val path = java.nio.file.Files.createTempDirectory("w2").resolve("in.txt")
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes)
    val got = ReferenceJobs.charCount(spark, path.toString)
      .as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 4L, "b" -> 3L, " " -> 3L))
  }

  test("W3 peak concurrent matches a sweep oracle on a generated input") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val ops = Seq("mci", "mtn", "rtl")
    val generated = Seq.tabulate(300) { i =>
      val st = rnd.nextInt(500)
      val en = st + rnd.nextInt(100)
      (ops(rnd.nextInt(3)), s"n${rnd.nextInt(40)}", st, en)
    }
    // fixed rows for the edges a sweep must get right, one op each:
    // touching intervals (ends are inclusive, so both are active at 20),
    // nested intervals, and one number whose intervals overlap and touch
    // (it counts once, however many of its intervals are open)
    val fixed = Seq(
      ("touch", "a", 10, 20), ("touch", "b", 20, 30),
      ("nest", "a", 0, 100), ("nest", "b", 10, 20), ("nest", "c", 12, 15),
      ("same", "a", 0, 10), ("same", "a", 5, 15), ("same", "a", 15, 25), ("same", "b", 40, 50))
    val rows = generated ++ fixed
    val path = java.nio.file.Files.createTempDirectory("w3").resolve("in.txt")
    java.nio.file.Files.write(path,
      rows.map { case (o, n, s0, e0) => s"$o $n $s0 $e0" }.mkString("\n").getBytes)

    // oracle: per op, max over seconds of distinct active numbers
    val expected = rows.groupBy(_._1).view.mapValues { rs =>
      (0 to 600).map { sec =>
        rs.filter(r => r._3 <= sec && sec <= r._4).map(_._2).distinct.size
      }.max.toLong
    }.toMap

    val got = ReferenceJobs.peakNumbers(spark, path.toString)
      .as[(String, Long)].collect().toMap
    assert(got === expected)
    assert(Seq("touch", "nest", "same").map(got) === Seq(2L, 3L, 1L))
  }
}
