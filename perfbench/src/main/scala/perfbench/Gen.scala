package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded, single-threaded input generators. Each one also computes the
  * results the engine must produce from those inputs, by plain Scala
  * arithmetic that shares no code with the engine. The same seed gives
  * byte-identical files and identical expectations. */
object Gen {

  /** A generator stream keyed by (seed, purpose, index), so that inputs
    * drawn later in a run do not depend on how many were drawn before. */
  def rng(seed: Long, purpose: String, index: Long = 0L): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^
      purpose.hashCode.toLong * 0xC2B2AE3D27D4EB4FL ^ index * 0x165667B19E3779F9L)

  /** Zipf(s) sampler over ranks 0 until n (rank 0 the hottest). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val t = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / t)
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def writeLines(f: File, lines: Iterator[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  // ---------------------------------------------------------------- telemetry

  /** One device message of the reference schema. */
  final case class Msg(tsMillis: Long, id: String, antenna: String, bytes: Long, app: String)

  private val isoMillis = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(ZoneOffset.UTC)
  def iso(ms: Long): String = isoMillis.format(Instant.ofEpochMilli(ms))

  /** The telemetry population: users (with e-mail and quota tier),
    * antennas and apps. Following the repository's sf0.1 `events` fixture
    * under FIXTURES.md's mapping (id ← user_id, app ← event_type,
    * bytes ← value): 1,500 users drawn uniformly, 5 apps, and bytes
    * exponential with mean 50. Antennas and apps are Zipf(1)-skewed; the
    * fixture has no antenna column, so the 40 antennas are a choice. Quota
    * tiers are the reference's. */
  final class Telemetry(seed: Long, nUsers: Int = 1500, nAntennas: Int = 40, nApps: Int = 5) {
    val quotaTiers: Array[Long] = Array(5000L, 100000L, 200000L, 300000L, 1000000L)
    val users: Array[String] = {
      val r = rng(seed, "users")
      Array.fill(nUsers)(new java.util.UUID(r.nextLong(), r.nextLong()).toString)
    }
    val emails: Array[String] = users.indices.map(i => f"user$i%04d@example.org").toArray
    val quotas: Array[Long] = {
      val r = rng(seed, "quotas")
      Array.fill(nUsers)(quotaTiers(r.nextInt(quotaTiers.length)))
    }
    val antennas: Array[String] = Array.tabulate(nAntennas)(i => f"antenna-$i%03d")
    val apps: Array[String] = Array.tabulate(nApps)(i => f"app-$i%02d")
    private val za = new Zipf(nAntennas, 1.0)
    private val zp = new Zipf(nApps, 1.0)

    def draw(r: SplittableRandom, tsMillis: Long): Msg =
      Msg(tsMillis, users(r.nextInt(nUsers)), antennas(za.draw(r)),
        math.round(-50.0 * math.log1p(-r.nextDouble())), apps(zp.draw(r)))

    def json(m: Msg): String =
      s"""{"timestamp":"${iso(m.tsMillis)}","id":"${m.id}","antenna_id":"${m.antenna}","bytes":${m.bytes},"app":"${m.app}"}"""

    def csv(m: Msg): String = s"${iso(m.tsMillis)},${m.id},${m.antenna},${m.bytes},${m.app}"

    def dimensionCsv: Iterator[String] = users.indices.iterator.map(i =>
      s"${users(i)},user $i,${emails(i)},${quotas(i)}")
  }

  /** 2026-06-01T10:00:00Z: the first archived hour / stream start. */
  val epochStart: Long = 1780308000000L

  /** Stream file `i`: `n` messages with event times in the file's own
    * `spanMs` slice, each pulled back by up to 10 s of jitter, so files
    * overlap in event time by less than the 15 s watermark and no message
    * is ever late. Line order is shuffled. */
  def streamFile(t: Telemetry, seed: Long, i: Int, n: Int, spanMs: Long): Array[Msg] = {
    val r = rng(seed, "stream", i)
    val base = epochStart + i * spanMs
    val ms = Array.fill(n) {
      val ts = base + (r.nextDouble() * spanMs).toLong - r.nextInt(10000)
      t.draw(r, ts)
    }
    for (k <- ms.indices.reverse) { // Fisher-Yates
      val j = r.nextInt(k + 1); val x = ms(k); ms(k) = ms(j); ms(j) = x
    }
    ms
  }

  /** The archive's hour `h` (0-based from [[epochStart]]), `n` messages. */
  def archiveHour(t: Telemetry, seed: Long, h: Int, n: Int): Array[Msg] = {
    val r = rng(seed, "archive", h)
    val base = epochStart + h * 3600000L
    Array.fill(n)(t.draw(r, base + (r.nextDouble() * 3600000L).toLong))
  }

  /** Expected tumbling-window sums: (type, window start ms, key) → bytes. */
  def windowSums(msgs: Iterator[Msg], windowMs: Long,
                 dims: Seq[(String, Msg => String)]): Map[(String, Long, String), Long] = {
    val acc = mutable.HashMap.empty[(String, Long, String), Long]
    msgs.foreach { m =>
      val w = Math.floorDiv(m.tsMillis, windowMs) * windowMs
      dims.foreach { case (tag, key) =>
        val k = (tag, w, key(m)); acc(k) = acc.getOrElse(k, 0L) + m.bytes
      }
    }
    acc.toMap
  }

  /** Expected quota report for one hour of messages:
    * (email, usage, quota, hour start ms) for every user over quota. */
  def quotaViolations(t: Telemetry, msgs: Array[Msg]): Set[(String, Long, Long, Long)] = {
    val idx = t.users.zipWithIndex.toMap
    val usage = mutable.HashMap.empty[(Int, Long), Long]
    msgs.foreach { m =>
      val k = (idx(m.id), Math.floorDiv(m.tsMillis, 3600000L) * 3600000L)
      usage(k) = usage.getOrElse(k, 0L) + m.bytes
    }
    usage.collect { case ((u, h), b) if b > t.quotas(u) =>
      (t.emails(u), b, t.quotas(u), h) }.toSet
  }

  // ------------------------------------------------------------------ corpus

  final case class Doc(id: Long, text: String, lang: String, label: Int, emb: Array[Float]) {
    def nChars: Long = text.length.toLong
    def curated: Boolean = lang != "zh" && nChars >= 100
    /** The engine's content key: lower-cased, whitespace tokens. */
    def content: String = text.trim.toLowerCase.split("\\s+").mkString(" ")
  }

  final class Corpus(val seed: Long, val dims: Int = 64, val nLabels: Int = 8,
                     nVocab: Int = 3000) {
    val vocab: Array[String] = {
      val r = rng(seed, "vocab")
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < nVocab) {
        val len = 3 + r.nextInt(7)
        seen += (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    private val zw = new Zipf(nVocab, 1.0)
    val centroids: Array[Array[Double]] = {
      val r = rng(seed, "centroids")
      Array.fill(nLabels)(Array.fill(dims)(r.nextDouble() * 2 - 1))
    }

    def text(r: SplittableRandom, minWords: Int, maxWords: Int): String =
      (0 until minWords + r.nextInt(maxWords - minWords + 1))
        .map(_ => vocab(zw.draw(r))).mkString(" ")

    def doc(r: SplittableRandom, id: Long, txt: String): Doc = {
      val label = r.nextInt(nLabels)
      val c = centroids(label)
      val emb = Array.tabulate(dims)(j => (c(j) + 0.6 * (r.nextDouble() * 2 - 1)).toFloat)
      val u = r.nextDouble()
      Doc(id, txt, if (u < 0.1) "zh" else if (u < 0.2) "de" else "en", label, emb)
    }

    /** Build population: ids 1..n, plus planted contamination. */
    def build(n: Int, evalSuite: Array[(Long, String)]): Array[Doc] = {
      val r = rng(seed, "build")
      Array.tabulate(n) { i =>
        val id = i + 1L
        if (i % 97 == 13) plantContamination(r, id, evalSuite)
        else doc(r, id, text(r, 8, 40))
      }
    }

    /** Eval suite: (eval_id, text), longer texts from the same vocabulary. */
    def evalSuite(n: Int): Array[(Long, String)] = {
      val r = rng(seed, "eval")
      Array.tabulate(n)(i => (900000000L + i, text(r, 30, 40)))
    }

    /** A curated English doc whose text is an eval text plus one token:
      * 3-shingle Jaccard ≥ 0.96 against its eval doc, so it must be
      * quarantined by the decontamination gate. */
    def plantContamination(r: SplittableRandom, id: Long,
                           evalSuite: Array[(Long, String)]): Doc = {
      val ev = evalSuite(r.nextInt(evalSuite.length))._2
      doc(r, id, ev + " " + vocab(r.nextInt(vocab.length))).copy(lang = "en")
    }

    /** Ingest batch `b` (ids from `firstId`), in a seeded order but with
      * fixed counts, so that every batch of `n` admits the same number of
      * documents: n/10 exact-content redeliveries of `seen` contents under
      * fresh ids, n/20 planted contaminations, n/10 fresh `zh` documents and
      * n/20 fresh documents under 100 characters (both dropped by
      * curation), and the rest fresh curated documents of 26 to 40 words. */
    def batch(b: Int, firstId: Long, n: Int, seen: IndexedSeq[String],
              evalSuite: Array[(Long, String)]): Array[Doc] = {
      val r = rng(seed, "batch", b)
      val kinds = Array.tabulate(n) { i =>
        if (i < n / 10) 0 else if (i < n / 10 + n / 20) 1
        else if (i < 2 * (n / 10) + n / 20) 2 else if (i < 2 * (n / 10 + n / 20)) 3 else 4
      }
      for (k <- kinds.indices.reverse) { // Fisher-Yates
        val j = r.nextInt(k + 1); val x = kinds(k); kinds(k) = kinds(j); kinds(j) = x
      }
      Array.tabulate(n) { i =>
        val id = firstId + i
        kinds(i) match {
          case 0 if seen.nonEmpty => doc(r, id, seen(r.nextInt(seen.size)))
          case 1 => plantContamination(r, id, evalSuite)
          case 2 => doc(r, id, text(r, 26, 40)).copy(lang = "zh")
          case 3 => doc(r, id, text(r, 3, 9)).copy(lang = "en") // at most 89 characters
          case _ => doc(r, id, text(r, 26, 40)).copy(lang = if (r.nextBoolean()) "en" else "de")
        }
      }
    }

    /** BM25 query pool: 3 distinct mid-frequency terms each. */
    def bm25Queries(n: Int): Seq[(Int, Seq[String])] = {
      val r = rng(seed, "bm25q")
      (0 until n).map(q => q -> {
        val s = mutable.LinkedHashSet.empty[String]
        while (s.size < 3) s += vocab(5 + r.nextInt(200))
        s.toSeq
      })
    }
  }

  /** The living-set bookkeeping of the stored tiers, replayed batch by
    * batch exactly as the ingest order defines it. */
  final class CorpusState(evalSuite: Array[(Long, String)]) {
    private val evalShingles = evalSuite.map { case (_, t) => shingles(t) }
    val seenContent: mutable.LinkedHashSet[String] = mutable.LinkedHashSet.empty
    val living: mutable.LinkedHashMap[Long, Doc] = mutable.LinkedHashMap.empty
    var contaminatedSeen = 0

    /** True if the doc's 3-shingle Jaccard against any eval doc is ≥ 0.7. */
    def contaminated(d: Doc): Boolean = {
      val s = shingles(d.text)
      s.nonEmpty && evalShingles.exists { e =>
        val inter = s.count(e.contains)
        inter.toDouble / (s.size + e.size - inter) >= 0.7
      }
    }

    /** The build: every doc's content is seen; the curated, clean docs
      * enter the index tiers. */
    def applyBuild(docs: Array[Doc]): Unit = {
      docs.foreach(d => seenContent += d.content)
      docs.filter(d => d.curated && !contaminated(d)).foreach(d => living(d.id) = d)
    }

    /** One ingest batch; returns the docs the index tiers must admit. */
    def applyBatch(docs: Array[Doc]): Array[Doc] = {
      val admitted = docs.filter(d => !seenContent.contains(d.content))
      val indexed = admitted.filter(d => d.curated && !contaminated(d))
      docs.foreach(d => seenContent += d.content)
      indexed.foreach(d => living(d.id) = d)
      indexed
    }

    def forget(ids: Iterable[Long]): Unit = ids.foreach(living.remove)
  }

  /** Distinct 3-token shingles of the engine's tokenisation. */
  def shingles(text: String): Set[String] = {
    val t = text.trim.toLowerCase.split("\\s+")
    if (t.length < 3) Set.empty else t.sliding(3).map(_.mkString(" ")).toSet
  }

  /** Exact cosine in double precision over float vectors. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Docs as JSON lines (the files the engine reads). */
  def docJson(d: Doc): String = {
    val sb = new StringBuilder
    sb.append(s"""{"doc_id":${d.id},"text":"${d.text}","lang":"${d.lang}","n_chars":${d.nChars},"label":${d.label},"embedding":[""")
    var i = 0
    while (i < d.emb.length) { if (i > 0) sb.append(','); sb.append(d.emb(i)); i += 1 }
    sb.append("]}").toString
  }
}
