package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.Model
import graft.operators.{Dedup, Diff}
import graft.sinks.{Payloads, RestSink}
import graft.state.StateStore
import graft.sync.SyncRunner

/** Input sizes. `full` is what the benchmark measures; `toy` is the self-test. */
final case class Scale(contacts: Int, chunkRows: Int, baseRows: Int, deltaRows: Int,
                       members: Int, docs: Int)

object Scale {
  val full: Scale = Scale(contacts = 100000, chunkRows = 50000, baseRows = 200000, deltaRows = 2000,
    members = 100000, docs = 10000)
  val toy: Scale = Scale(contacts = 4000, chunkRows = 1000, baseRows = 20000, deltaRows = 200,
    members = 5000, docs = 2000)
  def apply(name: String): Scale = name match {
    case "full" => full
    case "toy"  => toy
    case other  => throw new IllegalArgumentException(s"unknown scale: $other")
  }
}

/** What one timed operation produced, judged after the clock stopped. */
final case class Outcome(rows: Long, errors: Seq[String], counters: Map[String, Double])

/** One workload bound to one Spark session. */
trait Runner {
  /** Untimed work before the next operation; false once the inputs ran out. */
  def prepare(): Boolean = true
  /** The timed operation. Returns its correctness check, which runs untimed. */
  def op(): () => Outcome
}

trait Workload {
  def sizes: Map[String, Long]
  /** Writes the inputs once per process; excluded from set-up time. */
  def generate(spark: SparkSession): Unit
  /** Binds to a fresh session: accumulators, store and sync runner live per session. */
  def open(spark: SparkSession, tracer: Tracer): Runner
  /** Size of the workload's state-store file, 0 if it keeps none. */
  def stateBytes: Long = 0L
  /** Untimed operations between set-up and the timed loop, until op times stop drifting down. */
  def settleOps: Int
}

object Workloads {
  val names: Seq[String] = Seq("backfill", "incremental", "audience_cdc", "dedup")

  def apply(name: String, seed: Long, scale: Scale, work: Path, parts: Int, seconds: Double): Workload = name match {
    case "backfill"     => new Backfill(seed, scale, work, parts)
    case "incremental"  => new Incremental(seed, scale, work, parts, seconds)
    case "audience_cdc" => new AudienceCdc(seed, scale, work, parts)
    case "dedup"        => new DedupCorpus(seed, scale, work, parts)
    case other => throw new IllegalArgumentException(s"unknown workload: $other (one of ${names.mkString(", ")})")
  }

  /** A failed check per (what, got, want) triple whose values differ. */
  def mismatches(checks: (String, Any, Any)*): Seq[String] =
    checks.collect { case (what, got, want) if got != want => s"$what: got $got, want $want" }

  def syncCounters(r: SyncRunner#SyncReport): Map[String, Double] = Map(
    "sync.chunks" -> r.chunks.toDouble, "sync.rows_in" -> r.rowsIn.toDouble,
    "sync.rows_invalid" -> r.rowsInvalid.toDouble)

  def sinkCounters(pushes: Seq[RestSink.Result], got: Delivered): Map[String, Double] = Map(
    "sinks.rows_sent" -> pushes.map(_.sentRows).sum.toDouble,
    "sinks.rows_failed" -> pushes.map(_.failedRows).sum.toDouble,
    "sinks.retries" -> pushes.map(_.retries).sum.toDouble,
    "sinks.batches" -> pushes.map(_.batches).sum.toDouble,
    "sinks.wire_bytes" -> got.bytes.toDouble,
    "sinks.send_busy_s" -> got.busyNs / 1e9)

  /** The cursor as a fresh reader of the store file sees it. */
  def persistedCursor(stateFile: Path, syncId: String): Option[String] =
    StateStore.onFile(stateFile.toString).get(Seq(s"syncId=$syncId", "$lastCursor"))

  def fileBytes(p: Path): Long = if (Files.exists(p)) Files.size(p) else 0L
}

/** Seeded, stateless generator: every input is a pure function of (seed, stream, index). */
object Gen {
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
    x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }
  def rnd(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x9e3779b97f4a7c15L + stream) + i)
  def below(r: Long, n: Long): Long = java.lang.Long.remainderUnsigned(r, n)
}

final case class Contact(contact_id: Long, email: String, first_name: String, country: String,
                         company_id: Int, updated_at: Long, score: Double)
final case class Company(company_id: Int, company_name: String, industry: String)

/** The contacts model shared by `backfill` and `incremental`: 5% of rows carry
  * a missing or malformed email, which the model's validation rules reject. */
object Contacts {
  val Companies = 2000
  private val names = Array("ada", "brook", "chen", "dara", "eli", "fatima", "gus", "hana",
    "ivo", "june", "kofi", "lena", "milo", "nia", "omar", "pia")
  private val countries = Array("us", "de", "fr", "jp", "br", "in", "gb", "ca", "au", "mx")
  private val industries = Array("retail", "media", "fintech", "health", "travel")

  def cursor(id: Long): Long = 1700000000000L + id * 3
  def invalid(seed: Long, id: Long): Boolean = Gen.below(Gen.rnd(seed, 1, id), 100) < 5

  def row(seed: Long, id: Long): Contact = {
    val r = Gen.rnd(seed, 2, id)
    val name = names(Gen.below(r, names.length).toInt)
    val email =
      if (!invalid(seed, id)) s"${name.capitalize}.$id@Example${Gen.below(r >>> 8, 50)}.com"
      else if (((r >>> 16) & 1) == 0) null
      else s"$name-$id-at-nowhere"
    Contact(id, email, name, countries(Gen.below(r >>> 20, countries.length).toInt),
      Gen.below(r >>> 32, Companies).toInt, cursor(id), Gen.below(r >>> 40, 100000) / 100.0)
  }

  def frame(spark: SparkSession, seed: Long, lo: Long, hi: Long, parts: Int): DataFrame =
    spark.range(lo, hi, 1, parts)
      .mapPartitions((ids: Iterator[java.lang.Long]) => ids.map(id => row(seed, id)))(Encoders.product[Contact])
      .toDF()

  def writeCompanies(spark: SparkSession, seed: Long, path: String): Unit =
    spark.range(0, Companies, 1, 1)
      .map((id: java.lang.Long) => Company(id.toInt, s"company-${Gen.below(Gen.rnd(seed, 3, id), 1000000)}",
        industries(Gen.below(Gen.rnd(seed, 4, id), industries.length).toInt)))(Encoders.product[Company])
      .write.mode("overwrite").parquet(path)

  /** What a sync of ids [lo, hi) must deliver. */
  final case class Expect(rows: Long, invalid: Long, keySum: Long, maxCursor: String) {
    def valid: Long = rows - invalid
  }

  def expect(seed: Long, lo: Long, hi: Long): Expect = {
    var bad = 0L
    var sum = 0L
    var id = lo
    while (id < hi) {
      if (invalid(seed, id)) bad += 1 else sum += Keys.hash(id.toString)
      id += 1
    }
    Expect(hi - lo, bad, sum, cursor(hi - 1).toString)
  }

  private type Rule = DataFrame => Column

  def model(path: String): Model = Model("contacts",
    build = s => s.read.parquet(path),
    keyCols = Seq("contact_id"),
    cursorCol = Some("updated_at"),
    validations = Seq[(String, Rule)](
      "email_present" -> (df => df("email").isNotNull && df("email").contains("@")),
      "country_code" -> (df => length(df("country")) === 2)),
    columnMap = Some(Seq[(String, Rule)](
      "external_id" -> (df => df("contact_id").cast("string")),
      "email" -> (df => lower(trim(df("email")))),
      "first_name" -> (df => initcap(df("first_name"))),
      "country" -> (df => upper(df("country"))),
      "company" -> (df => coalesce(df("company_name"), lit("unknown"))),
      "industry" -> (df => df("industry")),
      "score" -> (df => round(df("score"), 2)),
      "updated_at" -> (df => df("updated_at")))))

  /** Broadcast-join enrichment with the companies dimension. */
  def enrich(dimPath: String): DataFrame => DataFrame =
    df => df.join(broadcast(df.sparkSession.read.parquet(dimPath)), Seq("company_id"), "left")
}

/** Full-refresh chunked sync of the whole contacts model, every operation. */
final class Backfill(seed: Long, scale: Scale, work: Path, parts: Int) extends Workload {
  private val src = work.resolve("contacts").toString
  private val dim = work.resolve("companies").toString
  private val state = work.resolve("backfill-state.tsv")
  private lazy val expected = Contacts.expect(seed, 0, scale.contacts)
  val settleOps = 2

  def sizes: Map[String, Long] = Map("rows" -> scale.contacts.toLong,
    "checkpoint_every" -> scale.chunkRows.toLong, "companies" -> Contacts.Companies.toLong)

  def generate(spark: SparkSession): Unit = {
    Contacts.frame(spark, seed, 0, scale.contacts, parts).write.mode("overwrite").parquet(src)
    Contacts.writeCompanies(spark, seed, dim)
    expected // computed here, so the first check does not pay for it
  }

  override def stateBytes: Long = Workloads.fileBytes(state)

  def open(spark: SparkSession, tracer: Tracer): Runner = new Runner {
    private val runner = new SyncRunner(new TracedStore(StateStore.onFile(state.toString), tracer))
    private val dest = new Destination(spark.sparkContext, "backfill")
    private val transport = CountingTransport(dest, "external_id")
    private val model = Contacts.model(src)
    private val enrich = Contacts.enrich(dim)

    def op(): () => Outcome = {
      val before = dest.delivered
      val pushes = ArrayBuffer.empty[RestSink.Result]
      val report = tracer.span("sync.run") {
        runner.run(spark, model, "backfill",
          sink = df => pushes += tracer.span("sinks.push")(
            RestSink.push(df, transport, RestSink.Profiles.facebookAudience)),
          fullRefresh = true, enrich = enrich, checkpointEvery = Some(scale.chunkRows.toLong))
      }
      () => {
        val got = dest.delivered - before
        val e = expected
        Outcome(got.rows, Workloads.mismatches(
          ("rows read", report.rowsIn, e.rows),
          ("rows invalid", report.rowsInvalid, e.invalid),
          ("rows delivered", got.rows, e.valid),
          ("delivered key checksum", got.keySum, e.keySum),
          ("reported cursor", report.newCursor, Some(e.maxCursor)),
          ("persisted cursor", Workloads.persistedCursor(state, "backfill"), Some(e.maxCursor))),
          Workloads.syncCounters(report) ++ Workloads.sinkCounters(pushes.toSeq, got))
      }
    }
  }
}

/** Back-to-back cursor syncs over a growing parquet source: before each
  * operation one more pre-generated delta lands in the source (untimed). */
final class Incremental(seed: Long, scale: Scale, work: Path, parts: Int, seconds: Double) extends Workload {
  private val src = work.resolve("contacts")
  private val staging = work.resolve("deltas")
  private val dim = work.resolve("companies").toString
  private val state = work.resolve("incremental-state.tsv")
  /** Op times drift down for about 70 syncs; most of it is gone after 25. */
  val settleOps = 25
  /** Deltas generated up front: enough for set-up, settle and a timed loop of
    * syncs that take 0.2 s or more; once they run out the timed loop ends. */
  private val deltas = 3 + settleOps + math.ceil(seconds / 0.2).toInt
  private var landed = 0

  def sizes: Map[String, Long] = Map("base_rows" -> scale.baseRows.toLong,
    "delta_rows" -> scale.deltaRows.toLong, "deltas_available" -> deltas.toLong)

  private def deltaIds(k: Int): (Long, Long) = {
    val lo = scale.baseRows.toLong + k.toLong * scale.deltaRows
    (lo, lo + scale.deltaRows)
  }

  def generate(spark: SparkSession): Unit = {
    Contacts.frame(spark, seed, 0, scale.baseRows, parts).write.mode("overwrite").parquet(src.toString)
    Contacts.writeCompanies(spark, seed, dim)
    // one range partition, hence one part file, per delta
    Contacts.frame(spark, seed, deltaIds(0)._1, deltaIds(deltas - 1)._2, deltas)
      .write.mode("overwrite").parquet(staging.toString)
    // the state starts where an earlier backfill of the base rows left it
    StateStore.onFile(state.toString)
      .set(Seq("syncId=incremental", "$lastCursor"), Contacts.cursor(scale.baseRows - 1L).toString)
  }

  override def stateBytes: Long = Workloads.fileBytes(state)

  def open(spark: SparkSession, tracer: Tracer): Runner = new Runner {
    private val runner = new SyncRunner(new TracedStore(StateStore.onFile(state.toString), tracer))
    private val dest = new Destination(spark.sparkContext, "incremental")
    private val transport = CountingTransport(dest, "external_id")
    private val model = Contacts.model(src.toString)
    private val enrich = Contacts.enrich(dim)
    private var current = -1
    private var wantRows = 0L
    private var wantKeys = 0L

    override def prepare(): Boolean = landed < deltas && {
      val prefix = f"part-$landed%05d-"
      val listing = Files.list(staging)
      val file = try listing.iterator().asScala.find(f => f.getFileName.toString.startsWith(prefix)).get
        finally listing.close()
      Files.move(file, src.resolve(f"delta-$landed%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      current = landed
      landed += 1
      true
    }

    def op(): () => Outcome = {
      val before = dest.delivered
      val pushes = ArrayBuffer.empty[RestSink.Result]
      val report = tracer.span("sync.run") {
        runner.run(spark, model, "incremental",
          sink = df => pushes += tracer.span("sinks.push")(
            RestSink.push(df, transport, RestSink.Profiles.facebookAudience)),
          enrich = enrich)
      }
      () => {
        val got = dest.delivered - before
        val (lo, hi) = deltaIds(current)
        val e = Contacts.expect(seed, lo, hi)
        wantRows += e.valid
        wantKeys += e.keySum
        Outcome(got.rows, Workloads.mismatches(
          ("rows read", report.rowsIn, e.rows),
          ("rows invalid", report.rowsInvalid, e.invalid),
          ("rows delivered", got.rows, e.valid),
          ("delivered key checksum", got.keySum, e.keySum),
          ("reported cursor", report.newCursor, Some(e.maxCursor)),
          ("persisted cursor", Workloads.persistedCursor(state, "incremental"), Some(e.maxCursor)),
          // every row once across runs: the session's totals match the deltas synced in it
          ("rows delivered since session start", dest.rows.value, wantRows),
          ("key checksum since session start", dest.keySum.value, wantKeys)),
          Workloads.syncCounters(report) ++ Workloads.sinkCounters(pushes.toSeq, got))
      }
    }
  }
}

/** Audience CDC: each operation diffs the next version of a generated
  * audience against the previous parquet snapshot and pushes inserts,
  * updates and deletes as hashed-email audience batches. Version v holds
  * ids [base + v*churn, base + v*churn + members): each version drops the
  * `churn` oldest members, adds `churn` new ones, and re-tiers the members
  * whose epoch (v + id mod 100) div 100 ticks over, which is 1% of them. */
final class AudienceCdc(seed: Long, scale: Scale, work: Path, parts: Int) extends Workload {
  private val n = scale.members.toLong
  private val churn = n / 100
  private val base = Gen.rnd(seed, 20, 0) >>> 34
  private val snapshots = work.resolve("snapshots").toString
  private val state = work.resolve("audience-state.tsv")
  private var nextVersion = 1L
  private val changeTypes = Seq("insert", "update", "delete")
  val settleOps = 10

  def sizes: Map[String, Long] = Map("members" -> n, "churn_per_kind" -> churn)

  private def lo(v: Long) = base + v * churn
  private def email(id: Long) = s"Member.$id@Example.org"
  private def memberHash(id: Long) = Keys.hash(Keys.sha256Hex(email(id).toLowerCase))

  private def frame(s: SparkSession, v: Long): DataFrame =
    s.range(lo(v), lo(v) + n, 1, parts).select(
      concat(lit("Member."), col("id").cast("string"), lit("@Example.org")).as("email"),
      expr(s"concat('t', cast((($v + pmod(id, 100)) div 100) % 7 as string))").as("tier"),
      (col("id") % 13).cast("int").as("region"))

  /** Ids of version `v`'s inserts, updates and deletes against version v - 1. */
  private def expectedIds(v: Long): Map[String, Iterator[Long]] =
    Map(
      "insert" -> (lo(v - 1) + n until lo(v) + n).iterator,
      "update" -> (lo(v) until lo(v - 1) + n).iterator.filter(id => (v + id % 100) % 100 == 0),
      "delete" -> (lo(v - 1) until lo(v)).iterator)

  /** Version 0 and the state an earlier runDiff of it would have left. */
  def generate(spark: SparkSession): Unit = {
    val path = s"$snapshots/sync_id=audience/run_id=0"
    frame(spark, 0).write.mode("overwrite").parquet(path)
    val store = StateStore.onFile(state.toString)
    store.set(Seq("syncId=audience", "$runSeq"), "0")
    store.set(Seq("syncId=audience", "$snapshot"), path)
  }

  override def stateBytes: Long = Workloads.fileBytes(state)

  def open(spark: SparkSession, tracer: Tracer): Runner = new Runner {
    private val runner = new SyncRunner(new TracedStore(StateStore.onFile(state.toString), tracer))
    private val dests = changeTypes.map(t => t -> new Destination(spark.sparkContext, s"audience.$t")).toMap
    private var v = -1L

    override def prepare(): Boolean = { v = nextVersion; nextVersion += 1; true }

    def op(): () => Outcome = {
      val version = v
      val model = Model("audience", build = s => frame(s, version), keyCols = Seq("email"))
      val before = dests.map { case (t, d) => t -> d.delivered }
      val pushes = ArrayBuffer.empty[RestSink.Result]
      val path = tracer.span("sync.runDiff") {
        runner.runDiff(spark, model, "audience", snapshots, changes => {
          changes.persist(StorageLevel.MEMORY_AND_DISK)
          try changeTypes.foreach { t =>
            val batches = Payloads.audienceBatches(changes.filter(col(Diff.ChangeCol) === t), "email")
            pushes += tracer.span("sinks.push")(RestSink.push(batches,
              CountingTransport(dests(t), "payload_json", members = true), RestSink.Profiles.facebookAudience))
          } finally { changes.unpersist(blocking = true); () }
        })
      }
      () => {
        val got = dests.map { case (t, d) => t -> (d.delivered - before(t)) }
        val checks = expectedIds(version).toSeq.flatMap { case (t, ids) =>
          var count = 0L
          var sum = 0L
          ids.foreach { id => count += 1; sum += memberHash(id) }
          Seq((s"$t members delivered", got(t).rows, count), (s"$t member checksum", got(t).keySum, sum))
        }
        val total = got.values.reduce((a, b) =>
          Delivered(a.rows + b.rows, a.bytes + b.bytes, a.keySum + b.keySum, a.busyNs + b.busyNs))
        Outcome(total.rows,
          Workloads.mismatches(checks :+ (("snapshot written", Files.isDirectory(java.nio.file.Paths.get(path)), true)): _*),
          Map("sync.rows_in" -> n.toDouble) ++ Workloads.sinkCounters(pushes.toSeq, total))
      }
    }
  }
}

final case class Doc(doc_id: Long, text: String)

/** MinHash near-duplicate pairs, then cluster resolution, over a corpus with
  * planted families: 20% of documents come in families of four, a base text
  * and three copies with one word replaced; the rest are random texts. */
final class DedupCorpus(seed: Long, scale: Scale, work: Path, parts: Int) extends Workload {
  private val corpus = work.resolve("corpus").toString
  private val familySize = 4
  private val families = scale.docs / 20
  private val planted = families.toLong * familySize
  private val words = 40
  /** Floor on planted-pair recall; missing it fails the operation. */
  private val recallFloor = 0.98
  val settleOps = 6

  def sizes: Map[String, Long] = Map("docs" -> scale.docs.toLong, "families" -> families.toLong,
    "family_size" -> familySize.toLong, "words_per_doc" -> words.toLong)

  def generate(spark: SparkSession): Unit = {
    val (s, p, fs, w) = (seed, planted, familySize, words)
    spark.range(0, scale.docs, 1, parts)
      .mapPartitions((ids: Iterator[java.lang.Long]) =>
        ids.map(id => Doc(id, DedupCorpus.text(s, p, fs, w, id))))(Encoders.product[Doc])
      .write.mode("overwrite").parquet(corpus)
  }

  def open(spark: SparkSession, tracer: Tracer): Runner = new Runner {
    def op(): () => Outcome = {
      val pairs = Dedup.minhashPairs(spark.read.parquet(corpus))
      val found = tracer.span("operators.minhashPairs") {
        pairs.persist(StorageLevel.MEMORY_AND_DISK)
        pairs.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      val clusters =
        try tracer.span("operators.resolveClusters")(Dedup.resolveClusters(pairs).collect())
        finally { pairs.unpersist(blocking = true); () }
      () => {
        val cluster = clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap
        var hits = 0L
        for (f <- 0L until families; i <- 0 until familySize; j <- i + 1 until familySize) {
          val a = cluster.get(f * familySize + i)
          if (a.isDefined && a == cluster.get(f * familySize + j)) hits += 1
        }
        val plantedPairs = families.toLong * familySize * (familySize - 1) / 2
        val recall = hits.toDouble / plantedPairs
        val stray = found.count { case (a, b) => a >= planted || b >= planted || a / familySize != b / familySize }
        val errors =
          (if (recall < recallFloor) Seq(f"planted-pair recall $recall%.4f below $recallFloor") else Nil) ++
            Workloads.mismatches(("pairs outside a planted family", stray, 0))
        Outcome(scale.docs.toLong, errors,
          Map("operators.pairs_out" -> found.length.toDouble, "operators.recall" -> recall))
      }
    }
  }
}

object DedupCorpus {
  private def word(r: Long) = "w" + Gen.below(r, 50000)

  /** Document `id`: below `planted`, member id % familySize of family
    * id / familySize (member 0 is the base text, the others replace one word
    * of it); above, a random text. */
  def text(seed: Long, planted: Long, familySize: Int, words: Int, id: Long): String =
    if (id < planted) {
      val f = id / familySize
      val toks = Array.tabulate(words)(j => word(Gen.rnd(seed, 30, f * words + j)))
      if (id % familySize != 0) toks(2 + Gen.below(Gen.rnd(seed, 31, id), words - 4).toInt) = word(Gen.rnd(seed, 32, id))
      toks.mkString(" ")
    } else Array.tabulate(words)(j => word(Gen.rnd(seed, 33, id * words + j))).mkString(" ")
}
