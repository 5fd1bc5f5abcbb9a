package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.sources.FilterStore

/** One filter family: its SQL build and probe, its reference blob size and
  * direct calls into `graft.core` for the kernel timings. `coreHits` probes
  * every hash of an array against a blob and counts the hits; each family
  * has its own loop, so the probe call in it is monomorphic.
  */
final case class Family(name: String, containsFn: String, buildSql: Long => String,
    params: Long => String, refBytes: Long => Long,
    coreBuild: Array[Long] => Array[Byte], coreHits: (Array[Byte], Array[Long]) => Long) {

  /** Probe of a blob column: over the hash `h`, or, for the DuckDB bloom
    * filter, over the raw key `k`, which the probe hashes itself. */
  def probe(blob: Column, h: Column, k: Column): Column =
    if (name == "duckdb_bloom")
      call_function("bitfilters_duckdb_bloom_filter_probe", lit(Families.DuckDbVersion), blob, k)
    else call_function(containsFn, blob, h)

  /** Probe of a driver-held blob, shipped once per executor as a broadcast. */
  def broadcastProbe(spark: SparkSession, blob: Array[Byte], h: Column, k: Column): Column =
    if (name == "duckdb_bloom") probe(FilterStore.broadcastBlobColumn(spark, blob), h, k)
    else FilterStore.broadcastProbe(spark, blob, containsFn, h)
}

object Families {
  final val DuckDbVersion = "v1.5.1"
  final val QuotientR = 8
  final val BloomFpr = 0.01

  val hashCol: Column = expr(s"bitfilters_duckdb_hash('$DuckDbVersion', k)")

  /** Smallest q >= 10 whose 2^q slots keep the load at or under 1/2. */
  def quotientQ(n: Long): Int = { var q = 10; while (q < 28 && (1L << (q - 1)) < n) q += 1; q }
  /** 16 bits of sectors per key, a power of two. */
  def bloomSectors(n: Long): Long = java.lang.Long.highestOneBit(math.max(1L, n / 4) * 2 - 1)

  // Reference sizes (BASELINE.md "Size formulas"), written out independently
  // of the library's own sizing code.
  def xorBytes(bits: Int, n: Long): Long = 16 + (bits / 8) * ((32 + 1.23 * n).toLong / 3 * 3)
  def fuseArrayLength(n: Long): Long = {
    val arity = 3
    val segLen = if (n == 0) 4L
      else math.min(262144L, 1L << math.floor(math.log(n.toDouble) / math.log(3.33) + 2.25).toInt)
    val sizeFactor = if (n <= 1) 0.0 else math.max(1.125, 0.875 + 0.25 * math.log(1e6) / math.log(n.toDouble))
    val capacity = if (n <= 1) 0L else math.round(n * sizeFactor)
    val initSegments = (capacity + segLen - 1) / segLen - (arity - 1)
    val length0 = (initSegments + arity - 1) * segLen
    val segments0 = (length0 + segLen - 1) / segLen
    val segments = if (segments0 <= arity - 1) 1 else segments0 - (arity - 1)
    (segments + arity - 1) * segLen
  }
  /** The 16-bit layout carries 4 bytes of padding (published 1M-key figure). */
  def fuseBytes(bits: Int, n: Long): Long = 28 + (bits / 8) * fuseArrayLength(n) + (if (bits == 16) 4 else 0)
  def quotientBytes(q: Int, r: Int): Long = 40 + ((1L << q) * (r + 3) + 7) / 8
  def bloomBytes(n: Long, fpr: Double): Long = {
    val m = math.ceil(-n * math.log(fpr) / (math.log(2) * math.log(2))).toLong
    8 + (math.max(m, 64L) + 63) / 64 * 8
  }

  /** Published sizes the formulas must reproduce (BASELINE.md). */
  def formulaFailures: Seq[String] = Seq(
    ("xor8 1M", xorBytes(8, 1000000), 1230046L), ("xor16 1M", xorBytes(16, 1000000), 2460076L),
    ("xor8 50k", xorBytes(8, 50000), 61546L), ("xor16 50k", xorBytes(16, 50000), 123076L),
    ("fuse8 1M", fuseBytes(8, 1000000), 1130524L), ("fuse16 1M", fuseBytes(16, 1000000), 2261024L),
    ("quotient q=20 r=4", quotientBytes(20, 4), 917544L),
  ).collect { case (what, got, want) if got != want => s"$what: formula gives $got, published $want" }

  private def xor(bits: Int) = Family(s"xor$bits", s"xor${bits}_filter_contains",
    _ => s"xor${bits}_filter(h)", _ => "", n => xorBytes(bits, n),
    hs => XorFilter.build(bits, hs, hs.length).serialize(),
    (b, hs) => { var i = 0; var c = 0L; while (i < hs.length) { if (XorFilter.probeBlob(bits, b, hs(i))) c += 1; i += 1 }; c })

  private def fuse(bits: Int) = Family(s"fuse$bits", s"binary_fuse${bits}_filter_contains",
    _ => s"binary_fuse${bits}_filter(h)", _ => "", n => fuseBytes(bits, n),
    hs => BinaryFuseFilter.build(bits, hs, hs.length).serialize(),
    (b, hs) => { var i = 0; var c = 0L; while (i < hs.length) { if (BinaryFuseFilter.probeBlob(bits, b, hs(i))) c += 1; i += 1 }; c })

  val all: Seq[Family] = Seq(xor(8), xor(16), fuse(8), fuse(16),
    Family("quotient", "quotient_filter_contains",
      n => s"quotient_filter(${quotientQ(n)}, $QuotientR, h)", n => s"q=${quotientQ(n)},r=$QuotientR",
      n => quotientBytes(quotientQ(n), QuotientR),
      hs => { val f = QuotientFilter.create(quotientQ(hs.length), QuotientR); hs.foreach(f.insert); f.serialize() },
      (b, hs) => { var i = 0; var c = 0L; while (i < hs.length) { if (QuotientFilter.probeBlob(b, hs(i))) c += 1; i += 1 }; c }),
    Family("duckdb_bloom", "bitfilters_duckdb_bloom_filter_probe",
      n => s"bitfilters_duckdb_bloom_filter_create('$DuckDbVersion', ${bloomSectors(n)}, h)",
      n => s"sectors=${bloomSectors(n)}", n => 8 * (bloomSectors(n) + 1),
      hs => { val f = DuckDbBloomFilter.create(bloomSectors(hs.length).toInt); hs.foreach(f.insert); f.serialize() },
      (b, hs) => { var i = 0; var c = 0L; while (i < hs.length) { if (DuckDbBloomFilter.probeBlob(b, hs(i))) c += 1; i += 1 }; c }),
    Family("classic_bloom", "bloom_filter_contains",
      n => s"bloomfilter($n, $BloomFpr, h)", _ => s"fpr=$BloomFpr", n => bloomBytes(n, BloomFpr),
      hs => { val f = ClassicBloomFilter.create(hs.length, BloomFpr); hs.foreach(f.insert); f.serialize() },
      (b, hs) => { var i = 0; var c = 0L; while (i < hs.length) { if (ClassicBloomFilter.probeBlob(b, hs(i))) c += 1; i += 1 }; c }),
  )
  val names: Seq[String] = all.map(_.name)
}

/** Seeded inputs. Member key i is a bijective mix of i, so keys are
  * distinct, and non-member keys take indices past the member range.
  */
object Data {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def key(seed: Long, i: Long): Long = mix(i ^ mix(seed))
  /** Fact row j: a member (one row in four) carries member key `idx` and its group. */
  def factRow(seed: Long, j: Long, n: Long, groups: Int): (Long, Int, Boolean) = {
    val r = mix(j ^ mix(~seed))
    val pick = (r >>> 2) & Long.MaxValue
    if ((r & 3) == 0) { val idx = pick % n; (key(seed, idx), (idx % groups).toInt, true) }
    else (key(seed, n + j), (pick % groups).toInt, false)
  }
  def expectedMembers(seed: Long, n: Long, rows: Long, groups: Int): Long = {
    var c = 0L; var j = 0L
    while (j < rows) { if (factRow(seed, j, n, groups)._3) c += 1; j += 1 }
    c
  }

  def writeKeys(spark: SparkSession, seed: Long, n: Long, groups: Int, parts: Int, path: String): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, parts).as[Long].map(i => (key(seed, i), (i % groups).toInt))
      .toDF("k", "g").write.mode("overwrite").parquet(path)
  }
  def writeFact(spark: SparkSession, seed: Long, n: Long, rows: Long, groups: Int, parts: Int, path: String): Unit = {
    import spark.implicits._
    spark.range(0, rows, 1, parts).as[Long].map(j => factRow(seed, j, n, groups))
      .toDF("k", "g", "m").write.mode("overwrite").parquet(path)
  }

  /** SHA-1 over each part file's row count and sum of row hashes, in part
    * order. Not over the files' bytes: parquet-mr writes a column chunk's
    * encoding list from a hash set, so its order in the footer can change
    * from one JVM to the next while the data stays the same.
    */
  def digest(spark: SparkSession, dirs: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    dirs.foreach { d =>
      val df = spark.read.parquet(d)
      df.groupBy(regexp_extract(input_file_name(), "part-(\\d+)", 1).as("part"))
        .agg(count(lit(1)), sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(20,0)")))
        .collect().sortBy(_.getString(0)).foreach { r =>
          md.update(s"${new java.io.File(d).getName}/${r.getString(0)}:${r.getLong(1)}:${r.get(2)};".getBytes("UTF-8"))
        }
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(c => dirBytes(c.getPath)).sum
    else if (f.getName.startsWith(".")) 0L else f.length()
  }
}

/** filter_probe: the semi-join read path. Set-up stores, per family, one
  * global filter over the member keys, plus a grouped xor8 catalog; each
  * operation probes the whole fact table against one stored filter.
  */
final class FilterProbe(spark: SparkSession, cfg: Config) extends Workload {
  private val n = cfg.probeKeys
  private val rows = cfg.factRows
  private val g = cfg.groups
  private val dir = cfg.dataDir
  private val keysPath = s"$dir/probe_keys"
  private val factPath = s"$dir/fact"
  private def storePath(f: Family) = s"$dir/store/${f.name}"
  private val catalogPath = s"$dir/store/catalog_xor8"
  private val xor8 = Families.all.find(_.name == "xor8").get
  private lazy val members = Data.expectedMembers(cfg.seed, n, rows, g)
  private val probeTrue = scala.collection.concurrent.TrieMap.empty[String, Long]
  private val blobBytes = scala.collection.concurrent.TrieMap.empty[String, Long]
  lazy val inputs: String = Data.digest(spark, Seq(keysPath, factPath))

  def prepare(): Unit = {
    Data.writeKeys(spark, cfg.seed, n, g, cfg.cpus, keysPath)
    // four files per core: a probe scan then has four tasks per core, so one
    // slow core (a busy neighbour on a shared host) does not stall the stage
    Data.writeFact(spark, cfg.seed, n, rows, g, 4 * cfg.cpus, factPath)
    val keys = spark.read.parquet(keysPath).withColumn("h", Families.hashCol)
    // Set-up is not the measured phase: the stores are written concurrently,
    // so the single-task final builds of the families overlap.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cfg.cpus)
    try {
      val writes = Families.all.map { f =>
        pool.submit(new Runnable {
          def run(): Unit = FilterStore.write(keys.withColumn("one", lit(0)), "one", "h",
            f.buildSql(n), f.name, f.params(n), storePath(f))
        })
      } :+ pool.submit(new Runnable {
        def run(): Unit = FilterStore.write(keys, "g", "h", xor8.buildSql(n / g), "xor8", "", catalogPath)
      })
      writes.foreach(_.get())
    } finally pool.shutdown()
  }

  /** After one warm-up pass, pass times still fall by a fifth over the next three. */
  def warmupPasses: Int = 2

  private def probeGlobal(f: Family): (Long, Long) = {
    val blob = Tracer.time("sources", s"read.${f.name}")(FilterStore.loadBlob(spark, storePath(f), "0"))
    blobBytes(f.name) = blob.length.toLong
    val fact = spark.read.parquet(factPath)
    val r = fact.select(col("m"), f.broadcastProbe(spark, blob, Families.hashCol, col("k")).as("p"))
      .agg(count_if(col("p")), count_if(col("m") && !col("p"))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def probeCatalog(): (Long, Long) = {
    val fact = spark.read.parquet(factPath).withColumn("h", Families.hashCol)
    val r = FilterStore.probeCatalog(fact, "g", "h", FilterStore.read(spark, catalogPath), xor8.containsFn)
      .agg(count(lit(1)), count_if(col("m"))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def sameEachPass(key: String, t: Long): Option[String] =
    probeTrue.putIfAbsent(key, t).filter(_ != t).map(p => s"$key: $t probe-true rows, earlier $p")

  lazy val ops: Seq[Op] = Families.all.map { f =>
    Op(s"probe.${f.name}", "functions", "probe", f.name, rows)(() => probeGlobal(f), {
      case (t: Long, fn: Long) =>
        if (fn != 0) Some(s"${f.name}: $fn false negatives")
        else if (t < members) Some(s"${f.name}: $t probe-true rows < $members members")
        else sameEachPass(f.name, t)
      case other => Some(s"unexpected result $other")
    })
  } :+ Op("probe_catalog.xor8", "sources", "probe", "catalog", rows)(() => probeCatalog(), {
    case (t: Long, m: Long) =>
      if (m != members) Some(s"catalog: $m member rows pass, expected $members")
      else sameEachPass("catalog", t)
    case other => Some(s"unexpected result $other")
  })

  def checks(): Seq[Check] = {
    val fact = spark.read.parquet(factPath).agg(count(lit(1)), count_if(col("m"))).head()
    val cat = spark.read.parquet(catalogPath).agg(count(lit(1)), sum("n_keys")).head()
    val wantRows = if (cfg.plantWrongCount) g + 1L else g.toLong
    Seq(
      Check("reference size formulas", Some(Families.formulaFailures).filter(_.nonEmpty).map(_.mkString("; "))),
      Check("fact rows and members", if (fact.getLong(0) == rows && fact.getLong(1) == members) None
        else Some(s"fact has ${fact.getLong(0)} rows / ${fact.getLong(1)} members, expected $rows / $members")),
      Check("catalog rows and keys", if (cat.getLong(0) == wantRows && cat.getLong(1) == n) None
        else Some(s"catalog has ${cat.getLong(0)} rows / ${cat.get(1)} keys, expected $wantRows / $n")),
    ) ++ Families.all.map { f =>
      Check(s"${f.name} blob size", blobBytes.get(f.name) match {
        case Some(b) if b == f.refBytes(n) => None
        case other => Some(s"${f.name}: blob is ${other.getOrElse(-1L)} B, reference ${f.refBytes(n)} B")
      })
    }
  }

  def quality: Map[String, Double] = {
    val fams = Families.names.filter(probeTrue.contains)
    val nonMembers = (rows - members) * fams.size
    Map("fp_rate" -> fams.map(probeTrue(_) - members).sum.toDouble / math.max(1L, nonMembers),
      "bytes_per_key" -> fams.flatMap(blobBytes.get).sum.toDouble / math.max(1L, n * fams.size))
  }

  def coreKeys(): CoreKeys = CoreKeys(Array.tabulate(n)(i => Data.key(cfg.seed, i)),
    Array.tabulate(n)(i => Data.key(cfg.seed, n.toLong + i)))
}

/** filter_build: the write path. Each family writes a grouped catalog and
  * one global filter over all keys; nothing is probed in the timed phase.
  */
final class FilterBuild(spark: SparkSession, cfg: Config) extends Workload {
  private val n = cfg.buildKeys
  private val g = cfg.groups
  private val perGroup = n / g
  private val dir = cfg.dataDir
  private val keysPath = s"$dir/build_keys"
  private def catalogPath(f: Family) = s"$dir/catalog/${f.name}"
  private def globalPath(f: Family) = s"$dir/global/${f.name}"
  private var fp = 0.0
  private var bytesPerKey = 0.0
  lazy val inputs: String = Data.digest(spark, Seq(keysPath))

  def prepare(): Unit = Data.writeKeys(spark, cfg.seed, n, g, cfg.cpus, keysPath)

  def warmupPasses: Int = 2

  private def keys = spark.read.parquet(keysPath).withColumn("h", Families.hashCol)

  lazy val ops: Seq[Op] = Families.all.flatMap { f =>
    Seq(
      Op(s"build.${f.name}", "functions", "build", f.name, n)(() =>
        FilterStore.write(keys, "g", "h", f.buildSql(perGroup), f.name, f.params(perGroup), catalogPath(f))),
      Op(s"build_global.${f.name}", "functions", "build_global", f.name, n)(() =>
        FilterStore.write(keys.withColumn("one", lit(0)), "one", "h", f.buildSql(n), f.name, f.params(n), globalPath(f))))
  }

  def checks(): Seq[Check] = {
    val wantRows = if (cfg.plantWrongCount) g + 1L else g.toLong
    // every 97th key: a member sample in every group
    val sample = keys.where(pmod(col("k"), lit(97L)) === 0).cache()
    val (seed, base) = (cfg.seed, n.toLong)
    val nonMembers = spark.range(0, cfg.nonMemberSample, 1, cfg.cpus)
      .select(udf((i: Long) => Data.key(seed, base + i)).apply(col("id")).as("k"))
      .withColumn("h", Families.hashCol).cache()
    var fpHits = 0L
    val out = Families.all.flatMap { f =>
      val cat = spark.read.parquet(catalogPath(f))
      val glob = spark.read.parquet(globalPath(f))
      val c = cat.agg(count(lit(1)), sum("n_keys"), min(length(col("filter"))), max(length(col("filter")))).head()
      val gl = glob.select(col("n_keys"), col("filter")).collect()
      val blob = gl.headOption.map(_.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
      val catMisses = sample.join(cat.select(col("key"), col("filter")), col("g").cast("string") === col("key"))
        .where(!f.probe(col("filter"), col("h"), col("k"))).count()
      val globMisses = sample.where(!f.broadcastProbe(spark, blob, col("h"), col("k"))).count()
      fpHits += nonMembers.where(f.broadcastProbe(spark, blob, col("h"), col("k"))).count()
      Seq(
        Check(s"${f.name} catalog rows and keys",
          if (c.getLong(0) == wantRows && c.getLong(1) == n) None
          else Some(s"${f.name}: catalog has ${c.getLong(0)} rows / ${c.get(1)} keys, expected $wantRows / $n")),
        Check(s"${f.name} blob sizes",
          if (c.getInt(2) == f.refBytes(perGroup) && c.getInt(3) == f.refBytes(perGroup) &&
            gl.length == 1 && blob.length == f.refBytes(n) && gl.head.getLong(0) == n) None
          else Some(s"${f.name}: group blobs ${c.get(2)}..${c.get(3)} B (reference ${f.refBytes(perGroup)}), " +
            s"global ${blob.length} B (reference ${f.refBytes(n)})")),
        Check(s"${f.name} members probe true",
          if (catMisses == 0 && globMisses == 0) None
          else Some(s"${f.name}: $catMisses catalog and $globMisses global member misses")),
      )
    }
    fp = fpHits.toDouble / (cfg.nonMemberSample * Families.all.size)
    bytesPerKey = Families.all.map(f => Data.dirBytes(catalogPath(f))).sum.toDouble / (n.toLong * Families.all.size)
    sample.unpersist(); nonMembers.unpersist()
    Check("reference size formulas", Some(Families.formulaFailures).filter(_.nonEmpty).map(_.mkString("; "))) +: out
  }

  def quality: Map[String, Double] = Map("fp_rate" -> fp, "bytes_per_key" -> bytesPerKey)

  def coreKeys(): CoreKeys = CoreKeys(Array.tabulate(perGroup)(i => Data.key(cfg.seed, i.toLong * g)),
    Array.tabulate(cfg.nonMemberSample.toInt)(i => Data.key(cfg.seed, n.toLong + i)))
}
