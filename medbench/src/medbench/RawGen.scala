package medbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of the five raw Kaggle-Meta CSV tables the medallion
  * pipeline ingests, with the expected gold results derived from the
  * generated rows alone (no Spark).
  *
  * Row shapes and the dirty-row mix follow the engine's `PipelineBench`:
  * null user names and 3-letter country codes (rejected in bronze),
  * non-numeric download counts (rejected), dangling dataset owners (kept,
  * mapped to the unknown user). On top of that, about 3% of every table's
  * natural keys appear twice with differing attributes and a distinct
  * update time, so silver `Dedup.keepLatest` discards rows and its ordering
  * decides which attributes survive; late deadlines give competitions a
  * rejected share too, and tag lists carry case/punctuation variants that
  * normalize onto each other.
  *
  *     medbench.RawGen <outDir> <users> <seed>
  */
object RawGen {

  val RunDate = "2024-06-01"
  val Parts = 4
  val DupShare = 0.03

  /** Expected gold row counts and sums, from the generated rows only. */
  final case class Expected(
      rows: Map[String, Long],
      datasetsCount: Long,
      totalViews: Long,
      tagUsage: Long,
      competitionsCount: Long)

  final case class Raw(dir: String, rows: Map[String, Long], bytes: Map[String, Long],
      expected: Expected) {
    def totalBytes: Long = bytes.values.sum
  }

  private final class Table(dir: String, name: String, header: String) {
    private val d = new File(dir, s"$name.csv")
    d.mkdirs()
    private val buf = mutable.ArrayBuffer.empty[String]
    def add(fields: String*): Unit = buf += fields.map(quote).mkString(",")
    def rows: Long = buf.size.toLong
    /** Write the rows in `Parts` contiguous part files, each with a header. */
    def flush(): Long = {
      val per = (buf.size + Parts - 1) / Parts
      var bytes = 0L
      for (p <- 0 until Parts) {
        val f = new File(d, f"part-$p%05d.csv")
        val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8))
        try {
          w.write(header); w.write('\n')
          buf.slice(p * per, math.min(buf.size, (p + 1) * per)).foreach { l =>
            w.write(l); w.write('\n')
          }
        } finally w.close()
        bytes += f.length()
      }
      bytes
    }
  }

  /** null → empty field (read back as NULL); quotes doubled (RFC 4180). */
  private def quote(s: String): String =
    if (s == null) ""
    else if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def ts(day: Int, sec: Int): String = {
    val d = java.time.LocalDate.of(2023, 1, 1).plusDays(day.toLong)
    f"$d ${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d"
  }

  private val Countries = Array("US", "VN", "DE", "IN", "BR", "FR", "JP", "GB")
  private val Types = Array("tabular", "image", "text", "audio")
  private val Categories = Array("vision", "nlp", "tabular", "forecasting")
  /** Tag spellings beside the plain `tagN` vocabulary; " ML" and "ml" normalize alike. */
  private val Variants = Array(" ML", "ml", "Deep Learning", "C++", "time-series", "NLP!")

  def normalizeTag(t: String): String =
    t.trim.toLowerCase(java.util.Locale.ROOT).filter(c =>
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '-')

  def generate(dir: String, nUsers: Int, seed: Long): Raw = {
    val rnd = new SplittableRandom(seed)
    def dup(): Boolean = rnd.nextDouble() < DupShare

    // users: 1% null name, 1.5% 3-letter country (both rejected in bronze)
    val users = new Table(dir, "users", "Id,UserName,RegisterDate,Country")
    var validUsers = 0L
    for (i <- 0 until nUsers) {
      val r = rnd.nextDouble()
      val day = rnd.nextInt(28)
      if (r < 0.01) users.add(s"U$i", null, ts(day, 0), "US")
      else if (r < 0.025) users.add(s"U$i", s"user_$i", ts(day, 0), "USA")
      else {
        validUsers += 1
        val c = Countries(rnd.nextInt(Countries.length))
        users.add(s"U$i", s"user_$i", ts(day, rnd.nextInt(86400)), c)
        if (dup()) users.add(s"U$i", s"user_${i}_renamed",
          ts(day + 1, rnd.nextInt(86400)), Countries(rnd.nextInt(Countries.length)))
      }
    }

    // datasets: 1.1% "N/A" downloads (rejected); owners up to 1000 past the
    // last user id dangle; duplicates differ in title, views and update time
    val nDatasets = nUsers * 3
    val datasets = new Table(dir, "datasets",
      "Id,Title,Subtitle,CreatorUserId,TotalViews,TotalDownloads,CreationDate,LastUpdatedDate,Type,IsPrivate")
    val validDataset = new Array[Boolean](nDatasets)
    val owners = mutable.HashSet.empty[Int]
    var datasetsCount, totalViews = 0L
    for (j <- 0 until nDatasets) {
      val owner = rnd.nextInt(nUsers + 1000)
      val views = rnd.nextInt(10000)
      val created = 31 + rnd.nextInt(28)
      val updated = created + 2 + rnd.nextInt(30)
      val priv = if (rnd.nextBoolean()) "TRUE" else "FALSE"
      val tpe = Types(rnd.nextInt(Types.length))
      if (rnd.nextDouble() < 0.011)
        datasets.add(s"D$j", s"Dataset $j", "", s"U$owner", views.toString, "N/A",
          ts(created, 0), ts(updated, 0), tpe, priv)
      else {
        validDataset(j) = true
        owners += owner
        datasetsCount += 1
        val downloads = rnd.nextInt(500).toString
        val again = dup()
        val views2 = rnd.nextInt(10000)
        val later = rnd.nextBoolean()
        // keepLatest keeps the row with the later update time
        totalViews += (if (again && later) views2 else views)
        datasets.add(s"D$j", s"Dataset $j, \"v1\"", "", s"U$owner", views.toString,
          downloads, ts(created, 0), ts(updated, 0), tpe, priv)
        if (again) datasets.add(s"D$j", s"Dataset $j, \"v2\"", "", s"U$owner",
          views2.toString, downloads, ts(created, 0),
          ts(if (later) updated + 1 else updated - 1, 0), tpe, priv)
      }
    }

    // competitions: 2% deadline before start (rejected)
    val nComps = nUsers / 100 + 10
    val comps = new Table(dir, "competitions", "Id,Title,Category,StartDate,Deadline,PrizeMoney")
    val years = mutable.HashSet.empty[Int]
    var compsCount = 0L
    for (k <- 0 until nComps) {
      val year = 2015 + rnd.nextInt(10)
      val start = s"$year-03-01 00:00:00"
      val cat = Categories(rnd.nextInt(Categories.length))
      if (rnd.nextDouble() < 0.02)
        comps.add(s"C$k", s"Comp $k", cat, start, s"${year - 1}-12-01 00:00:00", "1000")
      else {
        years += year; compsCount += 1
        comps.add(s"C$k", s"Comp $k", cat, start, s"$year-09-01 00:00:00",
          (rnd.nextInt(100) * 100).toString)
        if (dup()) comps.add(s"C$k", s"Comp $k (renamed)", cat, start,
          s"$year-10-01 00:00:00", (rnd.nextInt(100) * 100).toString)
      }
    }

    // tags: every even dataset has 1-3 tags; duplicate rows carry another list
    val tags = new Table(dir, "tags", "DatasetId,Tags")
    val pairs = mutable.HashSet.empty[(Int, String)]
    def tagList(j: Int): Unit = {
      val picked = (0 until 1 + rnd.nextInt(3)).map { _ =>
        if (rnd.nextDouble() < 0.2) Variants(rnd.nextInt(Variants.length))
        else s"tag${rnd.nextInt(500)}"
      }
      tags.add(s"D$j", picked.map(t => "\"" + t + "\"").mkString("[", ",", "]"))
      if (validDataset(j)) picked.map(normalizeTag).filter(_.nonEmpty)
        .foreach(t => pairs += ((j, t)))
    }
    for (i <- 0 until nDatasets / 2) {
      tagList(2 * i)
      if (dup()) tagList(2 * i)
    }

    // kernels: duplicates differ in title and update time
    val kernels = new Table(dir, "kernels", "Id,AuthorUserId,Title,CreationDate,LastUpdatedDate")
    for (m <- 0 until nUsers / 2) {
      val created = 90 + rnd.nextInt(30)
      val author = s"U${rnd.nextInt(nUsers)}"
      kernels.add(s"K$m", author, s"Kernel $m", ts(created, 0), ts(created + 1, 0))
      if (dup()) kernels.add(s"K$m", author, s"Kernel $m v2", ts(created, 0), ts(created + 2, 0))
    }

    val all = Seq("users" -> users, "datasets" -> datasets, "competitions" -> comps,
      "tags" -> tags, "kernels" -> kernels)
    val bytes = all.map { case (n, t) => n -> t.flush() }.toMap
    val distinctTags = pairs.iterator.map(_._2).toSet.size.toLong
    val expected = Expected(
      rows = Map(
        "dim_user" -> (validUsers + 1),
        "dim_date" -> 5844L, // 2015-01-01 .. 2030-12-31
        "dim_dataset" -> datasetsCount,
        "dim_competition" -> compsCount,
        "dim_tag" -> distinctTags,
        "bridge_dataset_tag" -> pairs.size.toLong,
        "fact_competitions_yearly" -> years.size.toLong,
        "fact_tag_usage_daily" -> distinctTags,
        "fact_dataset_owner_daily" -> owners.size.toLong),
      datasetsCount = datasetsCount, totalViews = totalViews,
      tagUsage = pairs.size.toLong, competitionsCount = compsCount)
    Raw(dir, all.map { case (n, t) => n -> t.rows }.toMap, bytes, expected)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: RawGen <outDir> <users> <seed>")
    val raw = generate(args(0), args(1).toInt, args(2).toLong)
    println(Stats.json(Map("rows" -> raw.rows, "bytes" -> raw.bytes,
      "expected_rows" -> raw.expected.rows)))
  }
}
