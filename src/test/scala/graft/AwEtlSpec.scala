package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.etl.aw.{AwEtl, AwSchemas}

/** Reference-parity tests on the REAL AdventureWorks CSVs where present
  * (row counts from the reference's run logs, BASELINE.md) and on
  * FIXTURES.md edge-case fixtures where the snapshot lacks the inputs
  * (Person Person, SalesOrderHeader/Detail).
  *
  * Every real-CSV test has a synthetic twin over small CSVs written with
  * the reference headers (FIXTURES.md): the twin always runs the same
  * checks at the fixture's counts, and the real-CSV test CANCELS (never
  * passes) when the extract is absent.
  */
class AwEtlSpec extends SparkSpec {
  import spark.implicits._

  /** A CSV source and the counts its checks expect. */
  private case class Src(dir: String, products: Long, noSubcat: Long,
      addresses: Long, sellers: Long)

  private def realSrc: Src = {
    assume(new java.io.File(awData).isDirectory,
      s"reference CSV extract absent at $awData — real row counts unchecked")
    Src(awData, products = 504, noSubcat = 209, addresses = 19614, sellers = 17)
  }

  /** Writes `rows` under the schema's field names (the reference CSV
    * headers): strings double-quoted, absent columns empty (= null); a
    * Some("") is the quoted empty string pandas also reads as null.
    */
  private def writeCsv(dir: java.nio.file.Path, name: String,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[Map[String, Any]]): Unit = {
    val lines = rows.map(r => schema.fieldNames.map(c => r.get(c) match {
      case Some(v: String) => "\"" + v.replace("\"", "\"\"") + "\""
      case Some(v) => v.toString
      case None => ""
    }).mkString(","))
    java.nio.file.Files.write(dir.resolve(s"$name.csv"),
      (schema.fieldNames.mkString(",") +: lines).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private lazy val fixture: Src = {
    val dir = java.nio.file.Files.createTempDirectory("graft_aw_fixture")
    writeCsv(dir, "Production Product", AwSchemas.product, Seq(
      Map("ProductID" -> 1, "Name" -> "HL Road Frame - Black, 58",
        "Color" -> "Black", "ProductSubcategoryID" -> 14),
      Map("ProductID" -> 2, "Name" -> "Sport-100 Helmet, Red",
        "Color" -> "Red", "ProductSubcategoryID" -> 31),
      Map("ProductID" -> 3, "Name" -> "Adjustable Race", "Color" -> ""),
      Map("ProductID" -> 4, "Name" -> "Bearing Ball"),
      Map("ProductID" -> 5, "Name" -> "Mountain-100 Silver, 38",
        "Color" -> "Silver", "ProductSubcategoryID" -> 1)))
    writeCsv(dir, "Production ProductSubcategory", AwSchemas.productSubcategory,
      Seq((1, 1, "Mountain Bikes"), (14, 2, "Road Frames"), (31, 4, "Helmets"))
        .map { case (id, cat, n) => Map("ProductSubcategoryID" -> id,
          "ProductCategoryID" -> cat, "Name" -> n) })
    writeCsv(dir, "Production ProductCategory", AwSchemas.productCategory,
      Seq((1, "Bikes"), (2, "Components"), (3, "Clothing"), (4, "Accessories"))
        .map { case (id, n) => Map("ProductCategoryID" -> id, "Name" -> n) })
    writeCsv(dir, "Person Address", AwSchemas.address,
      Seq((1, "Bothell", 79), (2, "Ottawa", 57), (3, "Paris", 179),
        (4, "Seattle", 79), (5, "Toronto", 57))
        .map { case (id, city, st) => Map("AddressID" -> id,
          "AddressLine1" -> s"$id Main St.", "City" -> city,
          "StateProvinceID" -> st) })
    writeCsv(dir, "Person StateProvince", AwSchemas.stateProvince,
      Seq((79, "WA", "US", "Washington"), (57, "ON", "CA", "Ontario"),
        (179, "75", "FR", "Seine (Paris)"))
        .map { case (id, code, cc, n) => Map("StateProvinceID" -> id,
          "StateProvinceCode" -> code, "CountryRegionCode" -> cc, "Name" -> n) })
    writeCsv(dir, "Person CountryRegion", AwSchemas.countryRegion,
      Seq(("US", "United States"), ("CA", "Canada"), ("FR", "France"))
        .map { case (cc, n) => Map("CountryRegionCode" -> cc, "Name" -> n) })
    // customers 1..20: every third one a store customer (null PersonID)
    writeCsv(dir, "Sales Customer", AwSchemas.customer, (1 to 20).map { id =>
      val who = if (id % 3 == 0) Map("StoreID" -> (900 + id))
        else Map("PersonID" -> (if (id == 1) 10963 else 20000 + id))
      Map("CustomerID" -> id, "AccountNumber" -> f"AW$id%08d") ++ who
    })
    writeCsv(dir, "Sales SalesPerson", AwSchemas.salesPerson,
      Seq(274, 275, 276, 277).map(id => Map("BusinessEntityID" -> id)))
    writeCsv(dir, "HumanResources Employee", AwSchemas.employee,
      Seq((274, "North American Sales Manager"), (275, "Sales Representative"),
        (276, "Sales Representative"), (277, "Sales Representative"))
        .map { case (id, t) => Map("BusinessEntityID" -> id, "JobTitle" -> t) })
    Src(dir.toString, products = 5, noSubcat = 2, addresses = 5, sellers = 4)
  }

  /** The same checks over the real extract and over the fixture. */
  private def twin(realName: String, fixtureName: String)(
      check: Src => Unit): Unit = {
    test(realName)(check(realSrc))
    test(fixtureName)(check(fixture))
  }

  private def rd(src: Src, name: String,
      s: org.apache.spark.sql.types.StructType) =
    AwEtl.readCsv(spark, s"${src.dir}/$name.csv", s)

  // Synthetic Person rows (snapshot is missing Person Person.csv)
  private lazy val person = Seq(
    (274, "Stephen", Some("Y"), "Jiang"),
    (275, "Michael", None, "Blythe"),       // null middle name → '  ' collapse
    (10963, "Ana", Some("M"), "Silva"))
    .toDF("BusinessEntityID", "FirstName", "MiddleName", "LastName")
    .select(col("BusinessEntityID"), lit("IN").as("PersonType"),
      lit("0").as("NameStyle"), lit(null).cast("string").as("Title"),
      col("FirstName"), col("MiddleName"), col("LastName"),
      lit(null).cast("string").as("Suffix"), lit(0).as("EmailPromotion"),
      lit(null).cast("string").as("AdditionalContactInfo"),
      lit(null).cast("string").as("Demographics"),
      lit(null).cast("string").as("rowguid"),
      lit(null).cast("string").as("ModifiedDate"))

  private def dimProduto(src: Src) = AwEtl.dimProduto(
    rd(src, "Production Product", AwSchemas.product),
    rd(src, "Production ProductSubcategory", AwSchemas.productSubcategory),
    rd(src, "Production ProductCategory", AwSchemas.productCategory))

  private def dimLocalidade(src: Src) = AwEtl.dimLocalidade(
    rd(src, "Person Address", AwSchemas.address),
    rd(src, "Person StateProvince", AwSchemas.stateProvince),
    rd(src, "Person CountryRegion", AwSchemas.countryRegion))

  private def dimVendedor(src: Src) = AwEtl.dimVendedor(
    rd(src, "Sales SalesPerson", AwSchemas.salesPerson),
    rd(src, "HumanResources Employee", AwSchemas.employee),
    person)

  twin("dim_produto: 504 rows from real CSVs, null repair applied",
      "dim_produto: fixture CSVs, null repair applied") { src =>
    val dim = dimProduto(src)
    assert(dim.count() === src.products)
    // products without a subcategory (209 in the extract, FIXTURES.md)
    // → repaired label
    assert(dim.filter($"nome_subcategoria" === "Sem Subcategoria").count() === src.noSubcat)
    assert(dim.filter($"nome_categoria" === "Sem Categoria").count() === src.noSubcat)
    assert(dim.filter($"cor".isNull).count() === 0)
    // SKs contiguous from 1
    val Row(mn: Int, mx: Int, n: Long) = dim
      .agg(min("sk_produto"), max("sk_produto"), countDistinct("sk_produto"))
      .head
    assert((mn.toLong, mx.toLong, n) === ((1L, src.products, src.products)))
  }

  twin("dim_localidade: 19,614 rows, two-level geo join",
      "dim_localidade: fixture CSVs, two-level geo join") { src =>
    val dim = dimLocalidade(src)
    assert(dim.count() === src.addresses)
    assert(dim.filter($"pais" === "Não Informado").count() === 0)
    assert(dim.select("pais").distinct().count() > 1)
  }

  test("dim_tempo: 5,844 days 2010-2025, smart keys and pt-BR month names") {
    val dim = AwEtl.dimTempo(spark)
    assert(dim.count() === 5844)
    val may20 = dim.filter($"sk_tempo" === 20230520).head
    assert(may20.getAs[String]("nome_mes") === "Maio")
    assert(may20.getAs[Int]("trimestre") === 2)
    assert(may20.getAs[Int]("semestre") === 1)
    assert(dim.filter($"semestre" === 2).count() === dim.filter(month($"data_completa") > 6).count())
  }

  test("dim_cliente: store customer (null PersonID) → corporate label") {
    val customer = Seq((1, Some(10963)), (2, None), (3, Some(99999)))
      .toDF("CustomerID", "PersonID")
      .withColumn("StoreID", lit(null).cast("int"))
    val dim = AwEtl.dimCliente(customer, person).orderBy("id_cliente_original")
    val rows = dim.collect()
    assert(rows.length === 3)
    assert(rows(0).getAs[String]("nome_completo") === "Ana Silva")
    assert(rows(0).getAs[String]("tipo_cliente") === "Individual")
    assert(rows(1).getAs[String]("nome_completo") === "Cliente Corporativo / Loja")
    assert(rows(1).getAs[String]("tipo_cliente") === "Store")
    // PersonID set but unmatched in person: left join null names → corporate
    assert(rows(2).getAs[String]("nome_completo") === "Cliente Corporativo / Loja")
    assert(rows(2).getAs[String]("tipo_cliente") === "Individual")
  }

  twin("dim_cliente second load MERGES via the SCD2 kernel instead of truncate-reloading",
      "dim_cliente second load MERGES via the SCD2 kernel (fixture CSVs)") { src =>
    // first load: Sales Customer.csv (19,820 rows in the extract; person
    // fixture for the names), opened as the initial version table
    val dim = AwEtl.dimCliente(rd(src, "Sales Customer", AwSchemas.customer), person)
    val cur = AwEtl.dimClienteVersions(dim)
    val n = cur.count()
    // second load: a source change re-types every 7th customer and one
    // brand-new customer appears (1000003 is not divisible by 7)
    val surface = dim.select("id_cliente_original", "nome_completo", "tipo_cliente")
    val updates = surface
      .withColumn("tipo_cliente",
        when(col("id_cliente_original") % 7 === 0, lit("Reclassificado"))
          .otherwise(col("tipo_cliente")))
      .unionByName(Seq((1000003, "Cliente Novo", "Individual"))
        .toDF("id_cliente_original", "nome_completo", "tipo_cliente"))
    val merged = AwEtl.dimClienteScd2(cur, updates, "2013-06-01")
    val changedN = surface.filter(col("id_cliente_original") % 7 === 0).count()
    assert(changedN > 0)
    // merge, not truncate-reload: old versions survive — |dim| rows plus
    // one closed version per changed key plus the brand-new open row
    assert(merged.count() === n + changedN + 1)
    // the unchanged majority passes through still open since the epoch
    assert(merged.filter(col("vigente") &&
        col("valid_from") === lit("2011-01-01").cast("date")).count()
      === n - changedN)
    // changed keys: closed old version at the load date + reopened new one
    val changed = merged.filter(col("id_cliente_original") % 7 === 0 &&
      col("id_cliente_original") =!= 1000003)
    assert(changed.filter(!col("vigente") &&
      col("valid_to") === lit("2013-06-01").cast("date")).count() === changedN)
    assert(changed.filter(col("vigente") &&
      col("tipo_cliente") === "Reclassificado").count() === changedN)
    // the brand-new customer opens at the load date
    val nv = merged.filter(col("id_cliente_original") === 1000003).collect()
    assert(nv.length === 1 && nv(0).getAs[Boolean]("vigente") &&
      nv(0).getAs[java.sql.Date]("valid_from").toString === "2013-06-01")
  }

  twin("generic AW dim SCD2: a second load of produto/localidade/vendedor merges instead of truncating",
      "generic AW dim SCD2: produto/localidade/vendedor second load merges (fixture CSVs)") { src =>
    import graft.etl.aw.AwEtl.dimScd2Surface
    val dims: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "dim_produto" -> dimProduto(src),
      "dim_localidade" -> dimLocalidade(src),
      "dim_vendedor" -> dimVendedor(src))
    dims.foreach { case (name, dim) =>
      val (key, attrs) = dimScd2Surface(name)
      val cur = AwEtl.dimVersions(name, dim)
      val n = cur.count()
      val surface = dim.select((key +: attrs).map(col): _*)
      // the new load changes the FIRST tracked attribute on every 5th
      // key and one brand-new key appears
      val changedPred = col(key) % 5 === 0
      val updates = surface
        .withColumn(attrs.head,
          when(changedPred, concat(lit("ALTERADO "), col(attrs.head)))
            .otherwise(col(attrs.head)))
        .unionByName(surface.limit(1).select(
          lit(9000001).cast("int").as(key) +:
            attrs.map(a => lit("Novo").as(a)): _*))
      val merged = AwEtl.dimScd2(name, cur, updates, "2013-06-01")
      val changedN = surface.filter(changedPred).count()
      assert(changedN > 0, s"$name: perturbation must touch some keys")
      // merge, not truncate-reload: |dim| rows + one closed version per
      // changed key + the brand-new open row
      assert(merged.count() === n + changedN + 1, s"$name merged count")
      assert(merged.filter(col("vigente") &&
          col("valid_from") === lit("2011-01-01").cast("date")).count()
        === n - changedN, s"$name unchanged rows must stay open since epoch")
      assert(merged.filter(!col("vigente") &&
        col("valid_to") === lit("2013-06-01").cast("date")).count()
        === changedN, s"$name changed keys must close at the load date")
      val nv = merged.filter(col(key) === 9000001).collect()
      assert(nv.length === 1 && nv(0).getAs[Boolean]("vigente"),
        s"$name brand-new key must open fresh")
    }
  }

  twin("dim_vendedor: 17 rows from real CSVs; empty middle name collapses",
      "dim_vendedor: fixture CSVs; empty middle name collapses") { src =>
    val dim = dimVendedor(src)
    assert(dim.count() === src.sellers)
    val byId = dim.collect().map(r =>
      r.getAs[Int]("id_vendedor_original") -> r.getAs[String]("nome_vendedor")).toMap
    assert(byId(274) === "Stephen Y Jiang")
    assert(byId(275) === "Michael Blythe") // null middle → single space
    // salespeople not in the synthetic person table: name empty after trim
    assert(byId(276) === "")
    assert(dim.filter($"cargo".isNotNull).count() === src.sellers) // employee join hit
  }

  test("fato_vendas: joins, metrics, null-key prune (FIXTURES edge cases)") {
    val header = Seq(
      (100, "2011-05-31 00:00:00", 1, Some(274), 900),
      (101, "2012-01-15 00:00:00", 2, None, 901), // online order: null seller
      (102, "2013-07-01 00:00:00", 3, Some(275), 999)) // address 999 unmatched
      .toDF("SalesOrderID", "OrderDate", "CustomerID", "SalesPersonID", "ShipToAddressID")
    val detail = Seq(
      (100, 1, 2, 10.0, 0.10),   // product 1: desconto 2.00, total 18.00
      (100, 2, 1, 99.99, 0.0),
      (100, 3, 5, 5.0, 0.0),     // product 3 not in dim → dropped
      (101, 1, 5, 5.0, 0.0),     // online order line (null seller)
      (102, 2, 4, 2.5, 0.02))
      .toDF("SalesOrderID", "ProductID", "OrderQty", "UnitPrice", "UnitPriceDiscount")
    val dimP = Seq((1, 1), (2, 2)).toDF("sk_produto", "id_produto_original")
    val dimC = Seq((1, 1), (2, 2), (3, 3)).toDF("sk_cliente", "id_cliente_original")
    val dimV = Seq((1, 274), (2, 275)).toDF("sk_vendedor", "id_vendedor_original")
    val dimL = Seq((1, 900), (2, 901)).toDF("sk_localidade", "id_endereco_original")

    val fato = AwEtl.fatoVendas(header, detail, dimP, dimC, dimV, dimL)
      .orderBy("sk_tempo", "sk_produto")
    val rows = fato.collect()
    assert(rows.length === 4) // product-3 line pruned

    val r0 = rows(0) // order 100, product 1
    assert(r0.getAs[Int]("sk_tempo") === 20110531)
    assert(r0.getAs[java.math.BigDecimal]("valor_desconto").doubleValue() === 2.00)
    assert(r0.getAs[java.math.BigDecimal]("valor_total").doubleValue() === 18.00)

    val online = rows.find(_.getAs[Int]("sk_tempo") === 20120115).get
    assert(online.isNullAt(online.fieldIndex("sk_vendedor"))) // survives prune

    val unmatchedAddr = rows.find(_.getAs[Int]("sk_tempo") === 20130701).get
    assert(unmatchedAddr.isNullAt(unmatchedAddr.fieldIndex("sk_localidade")))
    // F10/F11 identity: total + desconto == qty * price
    val identity = fato.withColumn("lhs",
        $"valor_total" + $"valor_desconto")
      .withColumn("rhs", $"qtd_vendida" * $"valor_unitario")
      .filter(abs($"lhs" - $"rhs") > 0.005)
    assert(identity.count() === 0)
  }

  test("KPIs on a fixture fact: values match hand computation") {
    val dimP = Seq((1, 1, "Bike A", "Bikes"), (2, 2, "Helmet", "Accessories"))
      .toDF("sk_produto", "id_produto_original", "nome_produto", "nome_categoria")
    val fato = Seq(
      (1, 2, 10.0, 2.0, 18.0),
      (1, 1, 99.99, 0.0, 99.99),
      (2, 4, 2.5, 0.2, 9.8))
      .toDF("sk_produto", "qtd_vendida", "valor_unitario", "valor_desconto", "valor_total")
    val k1 = AwEtl.Kpi.kpi1(fato).head.getDecimal(0).doubleValue()
    assert(k1 === 2 * 10.0 + 1 * 99.99 + 4 * 2.5) // 129.99
    val k6 = AwEtl.Kpi.kpi6(fato, dimP).collect()
    assert(k6.head.getAs[String]("nome_categoria") === "Bikes")
    assert(k6.head.getDecimal(1).doubleValue() === 117.99)
    assert(k6.head.getAs[Long]("quantidade_vendas") === 2L)
    val k10 = AwEtl.Kpi.kpi10(fato).head.getDouble(0)
    assert(math.abs(k10 - (18.0 + 99.99 + 9.8) / 3) < 1e-9)
  }
}
