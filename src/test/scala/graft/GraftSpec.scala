package graft

import graft.dsl.TableSpec
import graft.functions.Anonymizer
import graft.plans.{CoverageValidator, LogicalFK, SchemaManifest}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class GraftSpec extends SparkSpec {

  private lazy val users = spark.createDataFrame(
    java.util.Arrays.asList(
      Row(1, "Ann", "ann@real.com"),
      Row(2, "Bob", "bob@real.com"),
      Row(3, "Cid", null)
    ),
    StructType(Seq(
      StructField("id", IntegerType, false),
      StructField("name", StringType),
      StructField("email", StringType)
    ))
  )
  private lazy val orders = spark.createDataFrame(
    java.util.Arrays.asList(
      Row(10, 1, "note-a"),
      Row(11, 3, "note-b")
    ),
    StructType(Seq(
      StructField("id", IntegerType, false),
      StructField("user_id", IntegerType, false),
      StructField("note", StringType)
    ))
  )

  private lazy val manifest = SchemaManifest(
    tables = Seq("users", "orders"),
    pks = Map("users" -> Seq("id"), "orders" -> Seq("id")),
    fks = Seq(LogicalFK("fk_orders_users", "orders", "users", Seq(("user_id", "id"))))
  )
  private lazy val graft = new Graft(Map("users" -> users, "orders" -> orders), manifest)

  describe("Tpch.events fixture-generation tolerance") {
    // The driver has shipped events.ts as both TIMESTAMP(NANOS) (read as
    // a nanos long under the legacy conf) and TIMESTAMP(MICROS) (read as
    // TIMESTAMP_NTZ). Tpch.events must normalize BOTH physical forms to
    // the same nanos-epoch LongType — pin each branch against a fixture
    // written here, so a future fixture flip can't silently break one.
    it("normalizes legacy nanos-long and timestamp fixtures to the same nanos epoch") {
      import org.apache.spark.sql.functions._
      val micros = 1700000000123456L // µs since epoch
      val dir = java.nio.file.Files.createTempDirectory("events_forms_").toString
      try {
        // Legacy form: a plain LongType nanos column named ts.
        spark.range(1).select(
          lit(1L).as("event_id"), lit(micros * 1000L).as("ts"),
          lit(7L).as("user_id"), lit("click").as("event_type"),
          lit(1.5).as("value"), lit("{}").as("props"))
          .write.mode("overwrite").parquet(s"$dir/nanos/events.parquet")
        // Refreshed form: a true timestamp column (µs precision).
        spark.range(1).select(
          lit(1L).as("event_id"), timestamp_micros(lit(micros)).as("ts"),
          lit(7L).as("user_id"), lit("click").as("event_type"),
          lit(1.5).as("value"), lit("{}").as("props"))
          .write.mode("overwrite").parquet(s"$dir/ts/events.parquet")
        val legacy  = Tpch.events(spark, s"$dir/nanos")
        val refresh = Tpch.events(spark, s"$dir/ts")
        legacy.schema("ts").dataType shouldBe LongType
        refresh.schema("ts").dataType shouldBe LongType
        legacy.select("ts").head.getLong(0) shouldBe micros * 1000L
        refresh.select("ts").head.getLong(0) shouldBe micros * 1000L
      } finally {
        def rm(p: java.io.File): Unit = { Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); () }
        rm(new java.io.File(dir))
      }
    }
  }

  describe("plan") {
    it("auto-passes PK/FK columns through and applies transforms") {
      val plans = graft.plan(
        "users"  -> TableSpec.select(row => Seq(row.name.mapString(Anonymizer.FirstName), row.email.mapString(Anonymizer.Email))),
        "orders" -> TableSpec.select(row => Seq(row.note))
      )
      plans("users").columns should contain("id") // merged PK
      plans("orders").columns.toSet shouldBe Set("note", "id", "user_id") // merged PK + FK
      val names = plans("users").select("name").collect().map(_.getString(0))
      names.foreach(n => _root_.graft.functions.DataLists.firstNames should contain(n))
    }
    it("explicit spec entries override automatic key passthrough") {
      val plans = graft.plan(
        "users"  -> TableSpec.select(row => Seq(row.id := 0, row.name, row.email)),
        "orders" -> TableSpec.select(row => Seq(row.note))
      )
      plans("users").select("id").collect().map(_.getInt(0)).distinct shouldBe Array(0)
    }
    it("propagates filters into the plan (orders of filtered users)") {
      val plans = graft.plan(
        "users"  -> TableSpec.select(row => Seq(row.name, row.email)).where("id <= 1"),
        "orders" -> TableSpec.select(row => Seq(row.note))
      )
      plans("orders").select("id").collect().map(_.getInt(0)) shouldBe Array(10)
    }
    it("fails fast when a table has no spec, with a copy-pastable snippet") {
      val e = intercept[IllegalArgumentException] {
        graft.plan("users" -> TableSpec.select(row => Seq(row.name, row.email)))
      }
      e.getMessage should include("1 table(s) have no spec")
      e.getMessage should include(""""orders" -> TableSpec.select { row =>""")
      e.getMessage should include("row.note")
      e.getMessage should not include "row.user_id" // FK columns are auto-passed
    }
    it("fails fast when a spec misses data columns") {
      val e = intercept[IllegalArgumentException] {
        graft.plan(
          "users"  -> TableSpec.select(row => Seq(row.name)),
          "orders" -> TableSpec.select(row => Seq(row.note))
        )
      }
      e.getMessage should include("Table 'users' has 1 unhandled column(s)")
      e.getMessage should include("row.email")
    }
    it("fails fast on unknown spec columns") {
      val e = intercept[IllegalArgumentException] {
        graft.plan(
          "users"  -> TableSpec.select(row => Seq(row.name, row.email, row.nope)),
          "orders" -> TableSpec.select(row => Seq(row.note))
        )
      }
      e.getMessage should include("Unknown columns in spec for table 'users': nope")
    }
    it("skipped tables need no spec and are not planned") {
      val g     = new Graft(Map("users" -> users, "orders" -> orders), manifest, skippedTables = Set("orders"))
      val plans = g.plan("users" -> TableSpec.select(row => Seq(row.name, row.email)))
      plans.keySet shouldBe Set("users")
    }
    it("tables in a cross-table FK cycle are warned about and dropped, not crashed on") {
      // a ↔ b cycle plus an independent copyable table.
      val a = spark.createDataFrame(
        java.util.Arrays.asList(Row(1, 1, "x")),
        StructType(Seq(
          StructField("id", IntegerType, false),
          StructField("b_id", IntegerType, false),
          StructField("payload", StringType)
        ))
      )
      val b = spark.createDataFrame(
        java.util.Arrays.asList(Row(1, 1, "y")),
        StructType(Seq(
          StructField("id", IntegerType, false),
          StructField("a_id", IntegerType, false),
          StructField("payload", StringType)
        ))
      )
      val cyclicManifest = SchemaManifest(
        tables = Seq("a", "b", "users"),
        pks = Map("a" -> Seq("id"), "b" -> Seq("id"), "users" -> Seq("id")),
        fks = Seq(
          LogicalFK("fk_a_b", "a", "b", Seq(("b_id", "id"))),
          LogicalFK("fk_b_a", "b", "a", Seq(("a_id", "id")))
        )
      )
      val g = new Graft(Map("a" -> a, "b" -> b, "users" -> users), cyclicManifest)
      val plans = g.plan(
        "a"     -> TableSpec.select(row => Seq(row.payload)),
        "b"     -> TableSpec.select(row => Seq(row.payload)),
        "users" -> TableSpec.select(row => Seq(row.name, row.email))
      )
      // Reference DbCopier semantics: cyclic tables are not copied; the rest
      // of the plan proceeds.
      plans.keySet shouldBe Set("users")
      plans("users").count() shouldBe 3
    }
  }

  describe("run") {
    it("writes per-table parquet and returns row counts") {
      val out = java.nio.file.Files.createTempDirectory("graft-run").toString
      val counts = graft.run(out, spark)(
        "users"  -> TableSpec.select(row => Seq(row.name.mapString(Anonymizer.FirstName), row.email.mapString(Anonymizer.Email))).where("id <= 2"),
        "orders" -> TableSpec.select(row => Seq(row.note))
      )
      counts shouldBe Map("users" -> 2L, "orders" -> 1L)
      val written = spark.read.parquet(s"$out/users")
      written.count() shouldBe 2
      // Determinism: anonymized copy is reproducible.
      written.select("name").collect().map(_.getString(0)).sorted shouldBe
        Array("Ann", "Bob").map(Anonymizer.FirstName(_)).sorted
    }

    // customers <- orders <- items: a root filter reaches the grandchild.
    def intRows(cols: Seq[String], rows: Seq[Int]*) = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r: _*)): _*),
      StructType(cols.map(StructField(_, IntegerType, false))))
    lazy val customers = intRows(Seq("id", "segment"), Seq(1, 1), Seq(2, 2), Seq(3, 1))
    lazy val chainOrders = intRows(Seq("id", "cust_id", "total"),
      Seq(10, 1, 5), Seq(11, 2, 6), Seq(12, 3, 7), Seq(13, 3, 8))
    lazy val items = intRows(Seq("id", "order_id", "qty"),
      Seq(100, 10, 1), Seq(101, 11, 2), Seq(102, 12, 3), Seq(103, 13, 4), Seq(104, 11, 5))
    lazy val chain = SchemaManifest(
      tables = Seq("customers", "orders", "items"),
      pks = Map("customers" -> Seq("id"), "orders" -> Seq("id"), "items" -> Seq("id")),
      fks = Seq(
        LogicalFK("fk_orders_customers", "orders", "customers", Seq(("cust_id", "id"))),
        LogicalFK("fk_items_orders", "items", "orders", Seq(("order_id", "id")))))
    def chainGraft(skipped: Set[String] = Set.empty) =
      new Graft(Map("customers" -> customers, "orders" -> chainOrders, "items" -> items), chain, skipped)
    def chainSpecs(where: String) = Seq(
      "customers" -> TableSpec.select(row => Seq(row.segment)).where(where),
      "orders"    -> TableSpec.select(row => Seq(row.total)),
      "items"     -> TableSpec.select(row => Seq(row.qty)))
    def ids(path: String, c: String = "id"): Set[Int] =
      spark.read.parquet(path).select(c).collect().map(_.getInt(0)).toSet

    it("copies an FK chain under a root filter: counts come from the writes, children hold their parents' subset") {
      val out  = java.nio.file.Files.createTempDirectory("graft-chain").toString
      val descs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          descs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
      }
      spark.sparkContext.addSparkListener(l)
      val counts =
        try {
          val c = chainGraft().run(out, spark)(chainSpecs("segment = 1"): _*)
          // The listener bus is async; let the run's job-start events land.
          Thread.sleep(1500)
          c
        } finally spark.sparkContext.removeSparkListener(l)
      counts shouldBe Seq("customers", "orders", "items").map(t => t -> spark.read.parquet(s"$out/$t").count()).toMap
      counts shouldBe Map("customers" -> 2L, "orders" -> 3L, "items" -> 3L)
      // Exactly the source children whose parent was copied.
      ids(s"$out/customers") shouldBe Set(1, 3)
      ids(s"$out/orders") shouldBe Set(10, 12, 13)
      ids(s"$out/items") shouldBe Set(100, 102, 103)
      // Every Spark job of the copy is labelled with its table.
      descs should not be empty
      all(descs.toArray(Array.empty[String]).toSeq) should fullyMatch regex "graft\\.copy (customers|orders|items)"
    }

    it("a root filter that matches nothing reports 0 for every dependent table") {
      val out = java.nio.file.Files.createTempDirectory("graft-empty").toString
      chainGraft().run(out, spark)(chainSpecs("segment = 99"): _*) shouldBe
        Map("customers" -> 0L, "orders" -> 0L, "items" -> 0L)
    }

    it("a skipped table reports 0 and writes no directory") {
      val out = java.nio.file.Files.createTempDirectory("graft-skip").toString
      chainGraft(skipped = Set("items")).run(out, spark)(chainSpecs("segment = 1").take(2): _*) shouldBe
        Map("customers" -> 2L, "orders" -> 3L, "items" -> 0L)
      new java.io.File(s"$out/items").exists() shouldBe false
    }

    it("a failing table's error surfaces only after its sibling's write has finished") {
      val out = java.nio.file.Files.createTempDirectory("graft-fail").toString
      val e = intercept[Throwable] {
        graft.run(out, spark)(
          "users" -> TableSpec.select(row => Seq(
            row.name.mapString(n => if (n == "Bob") throw new IllegalStateException("boom on Bob") else n),
            row.email)),
          "orders" -> TableSpec.select(row => Seq(row.note.mapString { n => Thread.sleep(1500); n })))
      }
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString("\n") should
        include("boom on Bob")
      new java.io.File(s"$out/orders/_SUCCESS").exists() shouldBe true
    }

    it("IndexStore.inParallel throws one failure with its failed sibling suppressed") {
      val e = intercept[IllegalStateException] {
        _root_.graft.operators.IndexStore.inParallel[Int](
          () => throw new IllegalStateException("first"),
          () => { Thread.sleep(300); throw new IllegalArgumentException("second") },
          () => 3)
      }
      e.getMessage shouldBe "first"
      e.getSuppressed.map(_.getMessage).toSeq shouldBe Seq("second")
    }
  }

  describe("SQL function registration") {
    it("anon_* functions work from spark.sql and match the Scala API") {
      _root_.graft.functions.GraftFunctions.registerAll(spark)
      users.createOrReplaceTempView("users_sql")
      val viaSql = spark
        .sql("SELECT anon_full_name(name) AS fn, anon_email(email) AS em FROM users_sql WHERE id = 1")
        .head
      viaSql.getString(0) shouldBe Anonymizer.FullName("Ann")
      viaSql.getString(1) shouldBe Anonymizer.Email("ann@real.com")
    }
  }

  describe("CoverageValidator.getDataColumns") {
    it("excludes PK and FK columns") {
      CoverageValidator.getDataColumns(
        "orders", manifest,
        Map("orders" -> Seq("id", "user_id", "note"))
      ) shouldBe Seq("note")
    }
  }
}
