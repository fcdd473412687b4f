package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Ground truth of one generated gmall day, computed while generating. */
final case class DayTruth(day: Int, yyyymmdd: Int, logLines: Int, logBytes: Long,
    dirty: Int, starts: Int, pages: Int, displays: Int, uv: Int,
    envelopes: Int, dbBytes: Long, routedFacts: Int, routedDims: Int,
    details: Int, matchedDetails: Int, gmvCents: Long) {
  def json: String = productElementNames.zip(productIterator)
    .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
}

/** Seeded generator of the reference's raw inputs: app-log JSON lines (the
  * `ods_base_log` topic) and Maxwell/Flink-CDC style envelopes (the
  * `ods_base_db` topic), plus the `table_process` routing config. The same
  * seed gives byte-identical files. The mix includes dirty lines, devices
  * that claim `is_new=1` on every event, details outside the order join's
  * band, CDC deletes and updates nobody routes, and tables with no route. */
object GmallGen {
  val DayMs = 86400000L
  /** 2021-01-01T00:00:00Z. */
  val Epoch0 = 1609459200000L

  private val areas = (1 to 34).map(i => f"${i * 10000 + 100000}%d").toVector
  private val channels = Vector("appstore", "web", "huawei", "xiaomi", "oppo", "vivo")
  private val versions = Vector("v2.1.134", "v2.1.132", "v2.0.1", "v2.1.111")
  private val pageIds = Vector("home", "good_list", "good_detail", "cart", "trade",
    "payment", "mine", "orders_unpaid", "search")
  private val words = Vector("iphone", "xiaomi", "phone", "case", "lipstick", "tv",
    "laptop", "shoes", "pro", "12", "max", "mini", "red", "black")
  val Skus = 400
  val Users = 1500

  /** Routing config (bean/TableProcess.java): facts to `dwd_*` topics, dims
    * to the dim store. `order_info` updates, every delete and the
    * `coupon_use`/`activity_order` tables have no route. */
  val config: Seq[(String, String, String, String, String, String)] = Seq(
    ("order_info", "insert", "kafka", "dwd_order_info", "id,user_id,province_id,total_amount,create_time", "id"),
    ("order_detail", "insert", "kafka", "dwd_order_detail", "id,order_id,sku_id,order_price,sku_num,sku_name,split_total_amount,create_time", "id"),
    ("payment_info", "insert", "kafka", "dwd_payment_info", "id,order_id,user_id,payment_type,total_amount,create_time", "id"),
    ("cart_info", "insert", "kafka", "dwd_cart_info", "id,user_id,sku_id,create_time", "id"),
    ("favor_info", "insert", "kafka", "dwd_favor_info", "id,user_id,sku_id,create_time", "id"),
    ("comment_info", "insert", "kafka", "dwd_comment_info", "id,user_id,sku_id,order_id,appraise,create_time", "id"),
    ("order_refund_info", "insert", "kafka", "dwd_order_refund_info", "id,user_id,sku_id,order_id,refund_amount,create_time", "id"),
    ("user_info", "insert", "hbase", "dim_user_info", "id,name,birthday,gender", "id"),
    ("base_province", "insert", "hbase", "dim_base_province", "id,name,area_code,iso_code,iso_3166_2", "id"),
    ("sku_info", "insert", "hbase", "dim_sku_info", "id,spu_id,tm_id,category3_id,sku_name", "id"),
    ("sku_info", "update", "hbase", "dim_sku_info", "id,spu_id,tm_id,category3_id,sku_name", "id"),
    ("spu_info", "insert", "hbase", "dim_spu_info", "id,spu_name", "id"),
    ("base_trademark", "insert", "hbase", "dim_base_trademark", "id,tm_name", "id"),
    ("base_category3", "insert", "hbase", "dim_base_category3", "id,name", "id"))

  def writeConfig(f: File): Unit = writeLines(f, config.map { case (t, o, st, sk, cols, pk) =>
    s"""{"source_table":"$t","operate_type":"$o","sink_type":"$st","sink_table":"$sk","sink_columns":"$cols","sink_pk":"$pk","sink_extend":""}"""
  })

  def yyyymmdd(day: Int): Int = {
    val d = java.time.LocalDate.of(2021, 1, 1).plusDays(day.toLong)
    d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth
  }

  private def fmtTime(ms: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(ms))

  /** Counts over a batch of generated log lines. */
  private final class LogCounts {
    var dirty = 0; var starts = 0; var pages = 0; var displays = 0
    val pageMids = scala.collection.mutable.HashSet.empty[String]
  }

  /** Log lines of `devices` devices, each starting at a random time in
    * [t0, t0 + spanMs) and logging `eventsPerDevice` events a few seconds
    * apart. `ts` of each event is its creation time. */
  private def logLines(rnd: SplittableRandom, devices: Int, t0: Long,
      spanMs: Long, eventsPerDevice: Int, c: LogCounts): ArrayBuffer[String] = {
    val out = ArrayBuffer.empty[String]
    var d = 0
    while (d < devices) {
      val mid = s"mid_$d"
      val isNew = rnd.nextInt(10) < 3
      val common = s"""{"ar":"${areas(rnd.nextInt(areas.size))}","ba":"Xiaomi","ch":"${channels(rnd.nextInt(channels.size))}","is_new":"${if (isNew) 1 else 0}","md":"Xiaomi 9","mid":"$mid","os":"Android 11.0","uid":"${rnd.nextInt(Users) + 1}","vc":"${versions(rnd.nextInt(versions.size))}"}"""
      var ts = t0 + rnd.nextLong(spanMs)
      var e = 0
      var last: String = null
      while (e < eventsPerDevice) {
        val line =
          if (last == null || rnd.nextInt(8) == 0) {
            last = "home"
            c.starts += 1
            s"""{"common":$common,"start":{"entry":"icon","loading_time":${rnd.nextInt(20000)},"open_ad_id":${rnd.nextInt(20)},"open_ad_ms":${rnd.nextInt(9000)},"open_ad_skip_ms":0},"ts":$ts}"""
          } else {
            val pid = pageIds(rnd.nextInt(pageIds.size))
            val item =
              if (last == "search") {
                val kw = (0 until 1 + rnd.nextInt(2)).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
                s""","item":"$kw","item_type":"keyword""""
              } else if (pid == "good_detail") s""","item":"${rnd.nextInt(Skus) + 1}","item_type":"sku_id""""
              else ""
            val lastPart = if (rnd.nextInt(6) == 0) "" else s""","last_page_id":"$last""""
            val nDisp = if (pid == "home" || pid == "good_list") 1 + rnd.nextInt(4) else 0
            val disp = if (nDisp == 0) "" else (1 to nDisp).map { i =>
              s"""{"display_type":"promotion","item":"${rnd.nextInt(Skus) + 1}","item_type":"sku_id","order":$i,"pos_id":${rnd.nextInt(5) + 1}}"""
            }.mkString(""","displays":[""", ",", "]")
            c.pages += 1
            c.displays += nDisp
            c.pageMids += mid
            last = pid
            s"""{"common":$common,"page":{"during_time":${1000 + rnd.nextInt(19000)}$item$lastPart,"page_id":"$pid"}$disp,"ts":$ts}"""
          }
        out += line
        ts += 1000L + rnd.nextInt(20000)
        e += 1
      }
      d += 1
    }
    out
  }

  /** Replace one start line in six with a dirty one: cut mid-object (not
    * JSON) or well-formed JSON without `ts`. Only start lines are dirtied,
    * so the page truth stays exact. */
  private def dirty(rnd: SplittableRandom, lines: ArrayBuffer[String], c: LogCounts): Unit = {
    var i = 0
    while (i < lines.length) {
      val l = lines(i)
      if (l.contains("\"start\":") && rnd.nextInt(6) == 0) {
        lines(i) = if (rnd.nextBoolean()) l.substring(0, l.length / 2)
          else l.substring(0, l.indexOf(",\"ts\":")) + "}"
        c.starts -= 1
        c.dirty += 1
      }
      i += 1
    }
  }

  private def shuffle[T](rnd: SplittableRandom, xs: ArrayBuffer[T]): Unit = {
    var i = xs.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
      i -= 1
    }
  }

  def writeLines(f: File, lines: Iterable[String]): Long = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    var bytes = 0L
    try lines.foreach { l => w.write(l); w.write('\n'); bytes += l.getBytes(UTF_8).length + 1 }
    finally w.close()
    bytes
  }

  private def envelope(table: String, typ: String, after: String): String =
    s"""{"database":"gmall","tableName":"$table","before":"{}","after":"${after.replace("\"", "\\\"")}","type":"$typ"}"""

  private def cents(c: Long): String = f"${c / 100}%d.${c % 100}%02d"

  val NewUsersPerDay = 40

  private def user(rnd: SplittableRandom, i: Int): String =
    f"""{"id":$i,"name":"user_$i","birthday":"${1960 + rnd.nextInt(45)}-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d","gender":"${if (rnd.nextBoolean()) "F" else "M"}","email":"u$i@x"}"""

  private def sku(rnd: SplittableRandom, i: Int, name: String): String =
    s"""{"id":$i,"spu_id":${(i - 1) % 100 + 1},"price":${rnd.nextInt(900) + 100},"sku_name":"$name","tm_id":${(i - 1) % 20 + 1},"category3_id":${(i - 1) % 40 + 1},"weight":"0.5"}"""

  /** The dim tables' initial snapshot as insert envelopes (CDC initial
    * mode): loaded once, then each day's changes upsert into it. */
  def writeDimSnapshot(f: File, seed: Long): Int = {
    val rnd = new SplittableRandom(seed * 1000003L - 1L)
    val env = ArrayBuffer.empty[String]
    def ins(table: String, after: String): Unit = env += envelope(table, "insert", after)
    areas.zipWithIndex.foreach { case (a, i) =>
      ins("base_province", s"""{"id":${i + 1},"name":"province_${i + 1}","region_id":"${i % 7}","area_code":"$a","iso_code":"CN-${i + 11}","iso_3166_2":"CN-P${i + 1}"}""")
    }
    (1 to 40).foreach(i => ins("base_category3", s"""{"id":$i,"name":"category_$i","category2_id":${i % 9}}"""))
    (1 to 20).foreach(i => ins("base_trademark", s"""{"id":$i,"tm_name":"brand_$i","logo_url":"/l/$i"}"""))
    (1 to 100).foreach(i => ins("spu_info", s"""{"id":$i,"spu_name":"spu_$i","description":"d"}"""))
    (1 to Skus).foreach(i => ins("sku_info", sku(rnd, i, s"sku_$i")))
    (1 to Users).foreach(i => ins("user_info", user(rnd, i)))
    writeLines(f, env)
    env.length
  }

  /** One day: `logDir` gets the log lines in `files` parts, `dbDir` the
    * CDC envelopes, and `truth.json` beside them the day's ground truth. */
  def writeDay(logDir: File, dbDir: File, seed: Long, day: Int, logLines: Int,
      files: Int = 4): DayTruth = {
    val rnd = new SplittableRandom(seed * 1000003L + day)
    val t0 = Epoch0 + day * DayMs
    val c = new LogCounts
    val perDevice = 20
    val lines = this.logLines(rnd, logLines / perDevice, t0, DayMs - 3600000L, perDevice, c)
    dirty(rnd, lines, c)
    shuffle(rnd, lines)
    val per = (lines.length + files - 1) / files
    val logBytes = lines.grouped(per).zipWithIndex.map { case (part, i) =>
      writeLines(new File(logDir, f"part-$i%05d.json"), part)
    }.sum

    // CDC: the day's dim changes (new users, sku renames), then facts with noise
    val env = ArrayBuffer.empty[String]
    var routedDims = 0
    var routedFacts = 0
    def ins(table: String, after: String, routed: Boolean, dim: Boolean): Unit = {
      env += envelope(table, if (rnd.nextBoolean()) "insert" else "create", after)
      if (routed && dim) routedDims += 1
      if (routed && !dim) routedFacts += 1
    }
    (1 to NewUsersPerDay).foreach(i => ins("user_info", user(rnd, Users + day * NewUsersPerDay + i), true, true))
    (1 to Skus by 10).foreach { i =>
      env += envelope("sku_info", "update", sku(rnd, i, s"sku_${i}_d$day"))
      routedDims += 1
    }
    val orders = math.max(1, logLines / 50)
    var details = 0
    var matched = 0
    var gmv = 0L
    var detailId = day * 10000000L
    var o = 0
    while (o < orders) {
      val oid = day * 1000000L + o + 1
      val ots = t0 + rnd.nextLong(DayMs - 7200000L) / 1000L * 1000L
      val user = rnd.nextInt(Users + NewUsersPerDay) + 1
      val nd = 1 + rnd.nextInt(4)
      var total = 0L
      val ds = (0 until nd).map { _ =>
        detailId += 1
        val sku = rnd.nextInt(Skus) + 1
        val price = 100L + rnd.nextInt(99900)
        val num = 1 + rnd.nextInt(3)
        // one detail in thirty lands outside the join's +-5s band
        val off = if (rnd.nextInt(30) == 0) 8000L + rnd.nextInt(12000) else rnd.nextInt(7001) - 3000L
        val amount = price * num
        total += amount
        details += 1
        if (math.abs(off) <= 5000L) { matched += 1; gmv += amount }
        envelope("order_detail", "insert",
          s"""{"id":$detailId,"order_id":$oid,"sku_id":$sku,"order_price":${cents(price)},"sku_num":$num,"sku_name":"sku_$sku","create_time":"${fmtTime(ots + off)}","split_total_amount":${cents(amount)},"split_activity_amount":0.00,"split_coupon_amount":0.00}""")
      }
      ins("order_info", s"""{"id":$oid,"province_id":${rnd.nextInt(34) + 1},"order_status":"1001","user_id":$user,"total_amount":${cents(total)},"activity_reduce_amount":0.00,"coupon_reduce_amount":0.00,"original_total_amount":${cents(total)},"feight_fee":5.00,"expire_time":"${fmtTime(ots + 900000L)}","create_time":"${fmtTime(ots)}"}""", true, false)
      env ++= ds
      routedFacts += nd
      if (rnd.nextInt(10) < 8) {
        val lag = if (rnd.nextInt(20) == 0) 20000L + rnd.nextInt(20000) else 2000L + rnd.nextInt(12000)
        ins("payment_info", s"""{"id":$oid,"order_id":$oid,"user_id":$user,"payment_type":"110${rnd.nextInt(3) + 1}","total_amount":${cents(total)},"callback_time":"${fmtTime(ots + lag + 5000L)}","create_time":"${fmtTime(ots + lag)}"}""", true, false)
      }
      if (rnd.nextInt(10) < 3)
        env += envelope("order_info", "update", s"""{"id":$oid,"order_status":"1002","user_id":$user}""")
      if (rnd.nextInt(50) == 0)
        env += envelope("order_info", "delete", s"""{"id":$oid}""")
      if (rnd.nextInt(20) == 0)
        env += envelope("coupon_use", "insert", s"""{"id":$oid,"order_id":$oid,"coupon_id":7}""")
      if (rnd.nextInt(20) == 0)
        env += envelope("activity_order", "insert", s"""{"id":$oid,"order_id":$oid,"activity_id":3}""")
      if (rnd.nextInt(8) == 0)
        ins("comment_info", s"""{"id":$oid,"user_id":$user,"sku_id":${rnd.nextInt(Skus) + 1},"order_id":$oid,"appraise":"120${rnd.nextInt(4) + 1}","create_time":"${fmtTime(ots + 3600000L)}"}""", true, false)
      if (rnd.nextInt(25) == 0)
        ins("order_refund_info", s"""{"id":$oid,"user_id":$user,"sku_id":${rnd.nextInt(Skus) + 1},"order_id":$oid,"refund_amount":${cents(total)},"create_time":"${fmtTime(ots + 1800000L)}"}""", true, false)
      o += 1
    }
    (1 to logLines / 20).foreach { i =>
      val ts = t0 + rnd.nextLong(DayMs - 7200000L)
      val table = if (i % 3 == 0) "favor_info" else "cart_info"
      ins(table, s"""{"id":${day * 1000000L + i},"user_id":${rnd.nextInt(Users) + 1},"sku_id":${rnd.nextInt(Skus) + 1},"create_time":"${fmtTime(ts)}"}""", true, false)
      if (rnd.nextInt(40) == 0)
        env += envelope(table, "delete", s"""{"id":${day * 1000000L + i}}""")
    }
    shuffle(rnd, env)
    val dbBytes = env.grouped((env.length + files - 1) / files).zipWithIndex.map { case (part, i) =>
      writeLines(new File(dbDir, f"part-$i%05d.json"), part)
    }.sum

    val truth = DayTruth(day, yyyymmdd(day), lines.length, logBytes, c.dirty, c.starts, c.pages,
      c.displays, c.pageMids.size, env.length, dbBytes, routedFacts, routedDims,
      details, matched, gmv)
    writeLines(new File(logDir.getParentFile, "truth.json"), Seq(truth.json))
    truth
  }
}
