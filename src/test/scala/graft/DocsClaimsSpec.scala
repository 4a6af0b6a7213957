package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Claims-honesty guard (VERDICT r03 #2): two consecutive rounds shipped
  * docs whose oracle-match counts contradicted the committed driver
  * artifact. This spec parses every `CORRECTNESS_r*.json` in the repo root
  * and asserts the ratios quoted in README.md / BASELINE.md / BENCH.md
  * match the artifacts — red the moment a doc over-claims.
  *
  * Rules enforced (docs quote driver artifacts only):
  *  1. Any doc line citing `CORRECTNESS_rNN` by name may only carry
  *     oracle-match ratios `X/Y` that exactly equal a cited artifact's
  *     (hash-green, total).
  *  2. Any doc line claiming a ratio whose denominator equals some
  *     artifact's total query count, in an oracle/driver-artifact context,
  *     must equal (hash-green, total) of one of the artifacts — no
  *     "43/43" until the artifact says so.
  *  3. The NEWEST artifact's true ratio must appear verbatim in all three
  *     docs, so a new round's artifact forces a doc refresh.
  */
class DocsClaimsSpec extends AnyFunSuite {

  // the tree under test: tests run from the repository root
  private val repo = Paths.get("").toAbsolutePath
  private val docNames = Seq("README.md", "BASELINE.md", "BENCH.md")

  private val ratioRe = raw"(\d+)/(\d+)".r
  private val citeRe = raw"CORRECTNESS_r(\d+)".r

  /** (round -> (hashGreen, total)), parsed without a JSON lib: count
    * per-query objects via `"rows_match"` keys, greens via the exact
    * `"hash_match": true` token the driver emits. */
  private lazy val artifacts: Map[Int, (Int, Int)] = {
    val files = Files.list(repo).iterator().asScala
      .filter(_.getFileName.toString.matches(raw"CORRECTNESS_r\d+\.json"))
      .toList
    assert(files.nonEmpty, s"no CORRECTNESS_r*.json under $repo")
    files.map { f =>
      val round = f.getFileName.toString.replaceAll(raw"\D", "").toInt
      val text = new String(Files.readAllBytes(f), "UTF-8")
      val total = raw""""rows_match"""".r.findAllIn(text).size
      val green = raw""""hash_match":\s*true""".r.findAllIn(text).size
      round -> ((green, total))
    }.toMap
  }

  private def lines(doc: String): Seq[(Int, String)] = {
    val p = repo.resolve(doc)
    assert(Files.exists(p), s"$doc missing from repo root")
    new String(Files.readAllBytes(p), "UTF-8").linesIterator.zipWithIndex
      .map { case (l, i) => (i + 1, l) }.toSeq
  }

  private def ratios(line: String): Seq[(Int, Int)] =
    ratioRe.findAllMatchIn(line)
      .map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq

  test("rule 1: lines citing a CORRECTNESS artifact quote exactly its counts") {
    val totals = artifacts.values.map(_._2).toSet
    for {
      doc <- docNames
      (ln, line) <- lines(doc)
      cited = citeRe.findAllMatchIn(line).map(_.group(1).toInt).toSet
      if cited.nonEmpty
      allowed = cited.flatMap(artifacts.get)
      r @ (x, y) <- ratios(line)
      // only police ratios shaped like an oracle-match count (denominator
      // is some artifact's total) — "0.940/0.941"-style decimals and dates
      // never parse as such
      if totals.contains(y)
    } assert(
      allowed.contains(r),
      s"$doc:$ln claims $x/$y while citing CORRECTNESS_r${cited.mkString(",")} " +
        s"whose true counts are ${allowed.mkString(" or ")}: <<$line>>")
  }

  test("rule 2: oracle-context ratios with an artifact-total denominator match some artifact") {
    val totals = artifacts.values.map(_._2).toSet
    val valid = artifacts.values.toSet
    val contextRe = "(?i)(oracle|driver artifact|hash_match|hash-match)".r
    for {
      doc <- docNames
      (ln, line) <- lines(doc)
      if contextRe.findFirstIn(line).isDefined
      r @ (x, y) <- ratios(line)
      if totals.contains(y)
    } assert(
      valid.contains(r),
      s"$doc:$ln oracle-context claim $x/$y matches no committed artifact " +
        s"(${valid.toSeq.sorted.map { case (g, t) => s"$g/$t" }.mkString(", ")}): <<$line>>")
  }

  test("rule 4: efficiency claims attributed to a BENCH artifact match that artifact") {
    // case-insensitive: builder artifacts are lowercase bench_r*.json —
    // they carry the same accountability as the driver's BENCH_r*.json
    // The lowercase windows and BENCH_rN-*.json live under bench/, the
    // per-round BENCH_r0N.json at the root; a citation may carry the
    // bench/ prefix, which the match includes so the claim window below
    // stays anchored before the whole path
    val benchCite = raw"((?:bench/)?(?i:bench)_r[0-9A-Za-z._-]*?\.json)".r
    def resolve(doc: String, ln: Int, artifact: String): Path = {
      val found = Seq(repo.resolve(artifact), repo.resolve("bench").resolve(artifact))
        .find(Files.exists(_))
      assert(found.isDefined,
        s"$doc:$ln cites $artifact, which is neither at the repo root nor under bench/")
      found.get
    }
    // the claimed number is the nearest d.ddd within 40 chars BEFORE the
    // citation — the "**0.814** (`BENCH_r3-gated.json`)" shape; lines
    // where no number precedes the citation carry no per-artifact claim
    val checked = for {
      doc <- docNames
      (ln, line) <- lines(doc)
      m <- benchCite.findAllMatchIn(line)
      artifact = m.group(1)
      path = resolve(doc, ln, artifact)
      window = line.substring(math.max(0, m.start - 40), m.start)
      // lookarounds: don't pick "2.25" out of "22.25 s" or a truncated
      // prefix of a longer number
      claim <- raw"(?<![\d.])\d\.\d{2,3}(?!\d)".r.findAllIn(window).toSeq.lastOption
      text = new String(Files.readAllBytes(path), "UTF-8")
      values = raw""""efficiency[_a-z]*":\s*([0-9.]+)""".r
        .findAllMatchIn(text).map(_.group(1)).toSet
      if values.nonEmpty
    } yield {
      assert(
        values.exists(v => v == claim || v.startsWith(claim) || claim.startsWith(v)),
        s"$doc:$ln attributes efficiency $claim to $artifact, which records " +
          s"${values.mkString(", ")}: <<$line>>")
      artifact
    }
    assert(checked.nonEmpty, "rule 4 found no efficiency claim to check")
  }

  test("rule 3: the newest artifact's ratio appears verbatim in every doc") {
    val (round, (green, total)) = artifacts.maxBy(_._1)
    val want = s"$green/$total"
    for (doc <- docNames) {
      val text = lines(doc).map(_._2).mkString("\n")
      assert(
        text.contains(want),
        s"$doc never states the newest driver artifact's ratio $want " +
          s"(CORRECTNESS_r$round) — refresh the doc to quote the artifact")
    }
  }
}
