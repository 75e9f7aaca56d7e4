package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** Seeded generator of the 9 Olist source CSVs, in the layout
  * `engine.Bronze.readAll` expects, together with the outputs the pipeline
  * must produce from them.
  *
  * Every field is a pure hash of (seed, table, row id, field), so a row can
  * be regenerated alone and the same seed always gives the same bytes.
  * Foreign keys are consistent: every item, payment and review points at a
  * generated order, every order at its own customer, every item at a
  * generated product and seller.
  *
  * The generator plants the defects silver removes and counts them while it
  * writes: several items, payments and reviews per order (silver keeps one
  * per order), `not_defined` first payments, NULL and non-ASCII review text,
  * review ids whose length is not 32, out-of-range scores and malformed
  * review dates. From the surviving rows it derives the silver row counts,
  * the gate results, and the gold fact row counts and money totals, so the
  * pipeline's output can be checked without a second engine.
  */
object OlistGen {

  /** Orders in the public Olist dump; the other tables keep its row counts
    * per order. */
  val ReferenceOrders = 99441

  final case class Output(
      sourceRows: Map[String, Long],
      sourceBytes: Long,
      planted: Map[String, Long],
      silverRows: Map[String, Long],
      factRows: Map[String, Long],
      factCents: Map[String, Long],
      reviewScoreSum: Long,
      factSalesRowsByYear: Map[String, Long])

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val States = Array("SP", "RJ", "MG", "RS", "PR", "SC", "BA", "DF", "ES",
    "GO", "PE", "CE", "PA", "MT", "MA", "MS", "PB", "PI", "RN", "AL", "SE", "TO",
    "RO", "AM", "AC", "AP", "RR")
  private val Cities = Array("sao paulo", "rio de janeiro", "belo horizonte",
    "brasilia", "curitiba", "campinas", "porto alegre", "salvador", "guarulhos",
    "niteroi", "santos", "osasco", "goiania", "recife", "fortaleza")
  private val Categories = Array("cama_mesa_banho", "beleza_saude",
    "esporte_lazer", "moveis_decoracao", "informatica_acessorios",
    "utilidades_domesticas", "relogios_presentes", "telefonia",
    "ferramentas_jardim", "automotivo", "brinquedos", "cool_stuff",
    "perfumaria", "bebes", "eletronicos", "papelaria", "fashion_bolsas_e_acessorios",
    "pet_shop", "moveis_escritorio", "consoles_games", "malas_acessorios",
    "construcao_ferramentas_construcao", "eletrodomesticos", "instrumentos_musicais")
  private val English = Array("bed_bath_table", "health_beauty", "sports_leisure",
    "furniture_decor", "computers_accessories", "housewares", "watches_gifts",
    "telephony", "garden_tools", "auto", "toys", "cool_stuff", "perfumery",
    "baby", "electronics", "stationery", "fashion_bags_accessories", "pet_shop",
    "office_furniture", "consoles_games", "luggage_accessories",
    "construction_tools_construction", "home_appliances", "musical_instruments")
  private val Words = Array("produto", "entrega", "chegou", "rapido", "bom",
    "otimo", "recomendo", "prazo", "antes", "qualidade", "excelente", "veio",
    "certo", "gostei", "muito", "loja", "parabens", "tudo", "perfeito", "ok")
  private val Accented = Array("ótimo", "não", "está", "é", "entregue", "atenção",
    "até", "avaliação", "próximo", "você")
  private val PayTypes = Array("credit_card", "boleto", "voucher", "debit_card")

  // 2016-09-04 00:00:00 UTC and the span of purchase times (760 days)
  private val PurchaseStart = 1472947200L
  private val PurchaseSpan = 760L * 86400L

  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val MalformedFmt = java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy HH:mm:ss")
  private def ts(epoch: Long): String =
    java.time.LocalDateTime.ofEpochSecond(epoch, 0, java.time.ZoneOffset.UTC).format(TsFmt)
  private def year(epoch: Long): Int =
    java.time.LocalDateTime.ofEpochSecond(epoch, 0, java.time.ZoneOffset.UTC).getYear
  private def cents(c: Long): String = s"${c / 100}.${if (c % 100 < 10) "0" else ""}${c % 100}"
  private def hex16(x: Long): String = {
    val h = java.lang.Long.toHexString(x)
    "0" * (16 - h.length) + h
  }

  /** Writes the CSVs for `orders` orders under `dir` and returns the counts
    * the pipeline must reproduce. */
  def generate(dir: String, seed: Long, orders: Int): Output = {
    new File(dir).mkdirs()
    val base = mix(seed * 0x9e3779b97f4a7c15L + 0x5eed)
    def h(table: Int, id: Long, field: Int): Long =
      mix(mix(base + table * 0x632be59bd9b4e019L + id) + field)
    def u(table: Int, id: Long, field: Int): Double =
      (h(table, id, field) >>> 11) * (1.0 / (1L << 53))
    def pick(table: Int, id: Long, field: Int, n: Int): Int =
      java.lang.Long.remainderUnsigned(h(table, id, field), n.toLong).toInt
    def hex32(table: Int, id: Long): String =
      hex16(h(table, id, 100)) + hex16(h(table, id, 101))

    val nProducts = math.max(1, math.round(orders * 32951.0 / ReferenceOrders).toInt)
    val nSellers = math.max(1, math.round(orders * 3095.0 / ReferenceOrders).toInt)
    val nGeo = math.round(orders * 1000163.0 / ReferenceOrders).toInt
    val nZips = math.max(1, math.round(orders * 19015.0 / ReferenceOrders).toInt)
    def zip(k: Int): Int = 1000 + (k.toLong * 98999L / nZips).toInt
    val orderId = (i: Long) => hex32(1, i)
    val customerId = (i: Long) => hex32(2, i)
    val productId = (p: Long) => hex32(3, p)
    val sellerId = (s: Long) => hex32(4, s)

    var bytes = 0L
    val rows = mutable.LinkedHashMap[String, Long]()
    def csv(file: String, header: String)(body: (String => Unit) => Long): Unit = {
      val f = new File(dir, file)
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
      try {
        w.write(header); w.write('\n')
        val n = body { line => w.write(line); w.write('\n') }
        rows(file.stripSuffix(".csv").stripPrefix("olist_").stripSuffix("_dataset")) = n
      } finally w.close()
      bytes += f.length()
    }

    val planted = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
    val silver = mutable.LinkedHashMap[String, Long]()
    var salesRows, reviewRows = 0L
    var salesCents, freightCents, paymentCents, scoreSum = 0L
    val ordersByYear = mutable.TreeMap[String, Long]().withDefaultValue(0L)

    csv("olist_customers_dataset.csv",
        "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state") { out =>
      var i = 0L
      while (i < orders) {
        out(s"${customerId(i)},${hex32(5, pick(2, i, 1, math.max(1, orders * 24 / 25)))}," +
          s"${zip(pick(2, i, 2, nZips))},${Cities(pick(2, i, 3, Cities.length))}," +
          States(pick(2, i, 4, States.length)))
        i += 1
      }
      orders
    }

    // Orders, items, payments and reviews are generated per order, so one
    // pass decides which of an order's rows survive silver.
    val purchase = (i: Long) => PurchaseStart + java.lang.Long.remainderUnsigned(h(1, i, 1), PurchaseSpan)
    val statusOf = (i: Long) => {
      val x = u(1, i, 2)
      if (x < 0.970) "delivered" else if (x < 0.981) "shipped"
      else if (x < 0.987) "canceled" else if (x < 0.993) "unavailable"
      else if (x < 0.996) "invoiced" else if (x < 0.999) "processing" else "approved"
    }
    csv("olist_orders_dataset.csv",
        "order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at," +
          "order_delivered_carrier_date,order_delivered_customer_date," +
          "order_estimated_delivery_date") { out =>
      var i = 0L
      while (i < orders) {
        val p = purchase(i)
        val st = statusOf(i)
        val approved = if (u(1, i, 3) < 0.002) None else Some(p + 600 + pick(1, i, 4, 48 * 3600))
        val carrier =
          if (st == "delivered" || st == "shipped") approved.map(_ + 86400L * (1 + pick(1, i, 5, 5)))
          else None
        val delivered =
          if (st == "delivered" && u(1, i, 6) >= 0.003) carrier.map(_ + 86400L * (1 + pick(1, i, 7, 20)))
          else None
        val estimated = (p / 86400L + 10 + pick(1, i, 8, 30)) * 86400L
        out(s"${orderId(i)},${customerId(i)},$st,${ts(p)},${approved.map(ts).getOrElse("")}," +
          s"${carrier.map(ts).getOrElse("")},${delivered.map(ts).getOrElse("")},${ts(estimated)}")
        i += 1
      }
      orders
    }

    def itemCount(i: Long): Int = {
      val x = u(6, i, 0)
      if (x < 0.008) 0 else if (x < 0.905) 1 else if (x < 0.980) 2 else if (x < 0.995) 3 else 4
    }
    def price(i: Long, j: Int): Long = { val x = u(6, i * 8 + j, 1); 490L + (x * x * 49500).toLong }
    def freight(i: Long, j: Int): Long = 100L + pick(6, i * 8 + j, 2, 5000)
    csv("olist_order_items_dataset.csv",
        "order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value") { out =>
      var n = 0L
      var i = 0L
      while (i < orders) {
        val k = itemCount(i)
        if (k == 0) planted("orders_without_items") += 1
        if (k > 1) planted("extra_items") += k - 1
        var j = 1
        while (j <= k) {
          val id = i * 8 + j
          out(s"${orderId(i)},$j,${productId(pick(6, id, 3, nProducts))}," +
            s"${sellerId(pick(6, id, 4, nSellers))},${ts(purchase(i) + 6 * 86400L)}," +
            s"${cents(price(i, j))},${cents(freight(i, j))}")
          n += 1; j += 1
        }
        i += 1
      }
      n
    }

    def paymentCount(i: Long): Int = {
      val x = u(7, i, 0)
      if (x < 0.001) 0 else if (x < 0.955) 1 else if (x < 0.985) 2 else 3
    }
    def payType(i: Long, s: Int): String =
      if (s == 1 && u(7, i, 1) < 0.005) "not_defined"
      else PayTypes(pick(7, i * 8 + s, 2, PayTypes.length))
    def payValue(i: Long, s: Int): Long = 1000L + pick(7, i * 8 + s, 3, 50000)
    csv("olist_order_payments_dataset.csv",
        "order_id,payment_sequential,payment_type,payment_installments,payment_value") { out =>
      var n = 0L
      var i = 0L
      while (i < orders) {
        val k = paymentCount(i)
        if (k == 0) planted("orders_without_payments") += 1
        if (k > 1) planted("extra_payments") += k - 1
        var s = 1
        while (s <= k) {
          val t = payType(i, s)
          if (t == "not_defined") planted("not_defined_payments") += 1
          val inst = if (t == "credit_card") 1 + pick(7, i * 8 + s, 4, 10) else 1
          out(s"${orderId(i)},$s,$t,$inst,${cents(payValue(i, s))}")
          n += 1; s += 1
        }
        i += 1
      }
      n
    }

    // Silver keeps one item (the lowest order_item_id) and one payment (the
    // lowest payment_sequential, dropped if it is not_defined) per order;
    // the gold facts join both to the order.
    var silverItems, silverPayments = 0L
    var i = 0L
    while (i < orders) {
      val hasItem = itemCount(i) > 0
      val hasPayment = paymentCount(i) > 0 && payType(i, 1) != "not_defined"
      if (hasItem) silverItems += 1
      if (hasPayment) silverPayments += 1
      if (hasItem && hasPayment) {
        salesRows += 1
        salesCents += price(i, 1)
        freightCents += freight(i, 1)
        paymentCents += payValue(i, 1)
        ordersByYear(year(purchase(i)).toString) += 1
      }
      i += 1
    }

    def reviewCount(i: Long): Int = {
      val x = u(8, i, 0)
      if (x < 0.008) 0 else if (x < 0.993) 1 else if (x < 0.998) 2 else 3
    }
    def words(id: Long, field: Int, n: Int): String =
      (0 until n).map(k => Words(pick(8, id * 64 + k, field, Words.length))).mkString(" ")
    csv("olist_order_reviews_dataset.csv",
        "review_id,order_id,review_score,review_comment_title,review_comment_message," +
          "review_creation_date,review_answer_timestamp") { out =>
      var n = 0L
      var i = 0L
      while (i < orders) {
        val k = reviewCount(i)
        if (k > 1) planted("extra_reviews") += k - 1
        // silver keeps the review with the smallest review_id of each order
        var kept: (String, Boolean, Int) = null
        var r = 0
        while (r < k) {
          val id = i * 4 + r
          val full = hex32(8, id)
          val badLen = u(8, id, 1) < 0.005
          val rid = if (!badLen) full else if (pick(8, id, 2, 2) == 0) full.dropRight(1) else full + "0"
          val x = u(8, id, 3)
          val badScore = u(8, id, 4) < 0.005
          val score =
            if (badScore) (if (pick(8, id, 5, 2) == 0) 0 else 6)
            else if (x < 0.575) 5 else if (x < 0.768) 4 else if (x < 0.850) 3
            else if (x < 0.882) 2 else 1
          val nonAscii = u(8, id, 6) < 0.3
          val title =
            if (u(8, id, 7) < 0.6) None
            else Some(if (nonAscii && pick(8, id, 8, 2) == 0) Accented(pick(8, id, 9, Accented.length))
              else words(id, 10, 1 + pick(8, id, 11, 2)))
          val message =
            if (u(8, id, 12) < 0.3) None
            else Some(words(id, 13, 3 + pick(8, id, 14, 8)) +
              (if (nonAscii) " " + Accented(pick(8, id, 15, Accented.length)) else "") +
              (if (pick(8, id, 16, 4) == 0) ", chegou." else "."))
          val purchased = purchase(i)
          val created = (purchased / 86400L + 5 + pick(8, id, 17, 20)) * 86400L
          val malformed = u(8, id, 18) < 0.005
          val createdStr =
            if (malformed) java.time.LocalDateTime.ofEpochSecond(created, 0,
              java.time.ZoneOffset.UTC).format(MalformedFmt)
            else ts(created)
          val answered = created + 3600L * (1 + pick(8, id, 19, 72))
          if (badLen) planted("bad_length_review_ids") += 1
          if (badScore) planted("out_of_range_scores") += 1
          if (malformed) planted("malformed_review_dates") += 1
          if (title.isEmpty || message.isEmpty) planted("null_review_text") += 1
          if (nonAscii && title.nonEmpty && message.nonEmpty) planted("non_ascii_review_text") += 1
          val clean = !badLen && !badScore && !malformed && title.nonEmpty && message.nonEmpty &&
            !title.get.exists(_ > 127) && !message.get.exists(_ > 127)
          if (kept == null || rid < kept._1) kept = (rid, clean, score)
          def quoted(s: Option[String]) = s.map(v => if (v.contains(',')) "\"" + v + "\"" else v).getOrElse("")
          out(s"$rid,${orderId(i)},$score,${quoted(title)},${quoted(message)},$createdStr,${ts(answered)}")
          n += 1; r += 1
        }
        if (kept != null && kept._2) { reviewRows += 1; scoreSum += kept._3 }
        i += 1
      }
      n
    }

    csv("olist_products_dataset.csv",
        "product_id,product_category_name,product_name_lenght,product_description_lenght," +
          "product_photos_qty,product_weight_g,product_length_cm,product_height_cm," +
          "product_width_cm") { out =>
      var p = 0L
      while (p < nProducts) {
        val cat = if (u(3, p, 1) < 0.019) "" else Categories(pick(3, p, 2, Categories.length))
        out(s"${productId(p)},$cat,${20 + pick(3, p, 3, 50)},${100 + pick(3, p, 4, 3000)}," +
          s"${1 + pick(3, p, 5, 6)},${50 + pick(3, p, 6, 10000)},${10 + pick(3, p, 7, 90)}," +
          s"${2 + pick(3, p, 8, 60)},${6 + pick(3, p, 9, 60)}")
        p += 1
      }
      nProducts
    }

    csv("olist_sellers_dataset.csv",
        "seller_id,seller_zip_code_prefix,seller_city,seller_state") { out =>
      var s = 0L
      while (s < nSellers) {
        out(s"${sellerId(s)},${zip(pick(4, s, 1, nZips))},${Cities(pick(4, s, 2, Cities.length))}," +
          States(pick(4, s, 3, States.length)))
        s += 1
      }
      nSellers
    }

    csv("olist_geolocation_dataset.csv",
        "geolocation_zip_code_prefix,geolocation_lat,geolocation_lng,geolocation_city," +
          "geolocation_state") { out =>
      var g = 0L
      while (g < nGeo) {
        val lat = -33.0 + u(9, g, 2) * 33.0
        val lng = -73.0 + u(9, g, 3) * 39.0
        out("%d,%.6f,%.6f,".formatLocal(java.util.Locale.ROOT, zip(pick(9, g, 1, nZips)), lat, lng) +
          s"${Cities(pick(9, g, 4, Cities.length))},${States(pick(9, g, 5, States.length))}")
        g += 1
      }
      nGeo
    }

    csv("product_category_name_translation.csv",
        "product_category_name,product_category_name_english") { out =>
      Categories.indices.foreach(c => out(s"${Categories(c)},${English(c)}"))
      Categories.length.toLong
    }

    silver ++= Seq(
      "customers" -> orders.toLong,
      "orders" -> orders.toLong,
      "geolocation" -> nGeo.toLong,
      "order_items" -> silverItems,
      "order_payments" -> silverPayments,
      "order_reviews" -> reviewRows,
      "products" -> nProducts.toLong,
      "sellers" -> nSellers.toLong)

    Output(
      sourceRows = rows.toMap,
      sourceBytes = bytes,
      planted = planted.toMap,
      silverRows = silver.toMap,
      factRows = Map("fact_sales" -> salesRows, "fact_orders" -> salesRows,
        "fact_reviews" -> reviewRows),
      factCents = Map("fact_sales.Sales_Amount" -> salesCents,
        "fact_sales.Freight_Value" -> freightCents,
        "fact_orders.Total_Payment_Value" -> paymentCents,
        "fact_orders.Order_Items_Value" -> salesCents),
      reviewScoreSum = scoreSum,
      factSalesRowsByYear = ordersByYear.toMap)
  }
}
