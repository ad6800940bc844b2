package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** CRM-shaped replay tables (FIXTURES.md §2): small fixed scenarios
  * mirroring the reference's test corpus (`cerberus/tests/`), with planted
  * rows for every §5.3 error fixture. Frozen clock = 2017-05-21T00:00:00Z
  * (matching freezegun in tests/test_bookings.py:59).
  *
  * COUPLING: the customers/invoices/charges/invoiceOpens rows below are
  * mirrored as VALUES literals inside `SparkEntry.oracleSql`
  * (`q_invoice_emails`, `q_customer_balances`, `q_repair_emails`,
  * `q_invoice_first_opens` — DuckDB re-derives those
  * read-models from the same inputs), and the expected VIOLATION rows live in the
  * `CrmReplayGolden` literal (regenerate via `graft.tools
  * .CrmGoldenPrinter`). Any edit here must be mirrored in ALL FOUR sites
  * (the three oracle VALUES blocks + the golden) or the driver's
  * correctness rows go red while ScalaTest stays green.
  */
object CrmFixtures {

  val FrozenNowSql = "timestamp'2017-05-21 00:00:00'"
  val FrozenTodaySql = "date'2017-05-21'"

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  final case class Tables(
      customers: DataFrame, pets: DataFrame, contacts: DataFrame,
      services: DataFrame, bookingSlots: DataFrame, bookings: DataFrame,
      bookingPets: DataFrame, invoices: DataFrame, charges: DataFrame,
      payments: DataFrame, stateLog: DataFrame, invoicesAfter: DataFrame,
      invoiceOpens: DataFrame)

  def build(spark: SparkSession): Tables = {
    import spark.implicits._

    // (id, first, last, name, invoice_email, active, vet_id)
    val customers = Seq(
      (1L, "Bob", "Smith", "Bob Smith", "bob@x.com", true, Some(1L)),
      (2L, "Eve", "Jones&Co", "Eve Jones&Co", "", true, None),   // R16 both
      (3L, "Al", "Brown", "WRONG NAME", "al@x.com", true, None), // R14
      (4L, "Cy", "Dale", "Cy Dale", "cy@x.com", true, None)
    ).toDF("id", "first_name", "last_name", "name", "invoice_email",
      "active", "vet_id")

    // (id, name, customer_id, sex, neutered, social_media_concent)
    val pets = Seq(
      (1L, "Rex", 1L, "male", "yes", "yes"),
      (2L, "Fi", 2L, "female", "no", "annon"),
      (3L, "Gus", 999L, "male", "yes", "yes"),     // R9 missing customer
      (4L, "Hex", 1L, "other", "yes", "yes"),      // bad sex enum
      (5L, "P5", 1L, "male", "yes", "yes"),
      (6L, "P6", 1L, "female", "yes", "yes"),
      (7L, "P7", 1L, "male", "implant", "no"),
      (8L, "P8", 1L, "female", "yes", "yes"),
      (9L, "P9", 1L, "male", "yes", "yes"),
      (10L, "P10", 3L, "female", "yes", "yes")
    ).toDF("id", "name", "customer_id", "sex", "neutered",
      "social_media_concent")

    // (id, name, details, customer_id) — duplicate (name, customer) → R5;
    // contact 4 is customer 2's single EMAIL-type contact (fixcustomers
    // repair scene: empty invoice_email + exactly one email contact)
    val contacts = Seq(
      (1L, "Home", "01234 567890", 1L),
      (2L, "Home", "07123 456789", 1L),           // dup (Home, 1)
      (3L, "Home", "01234 111222", 2L),
      (4L, "Mail", "eve@x.com", 2L)
    ).toDF("id", "name", "details", "customer_id")

    // (id, name, length_s, cost, cost_per_additional, max_pet, max_customer)
    val services = Seq(
      (1L, "Walk", 3600L, 12.00, 5.00, 4, 2),
      (2L, "Walk", 3600L, 12.00, 5.00, 4, 2),     // 5-col duplicate → R5
      (3L, "Groom", 1800L, 20.00, 0.00, 1, 1)
    ).toDF("id", "name", "length_s", "cost_d", "cpa_d", "max_pet",
      "max_customer")
      .withColumn("cost", col("cost_d").cast("decimal(14,2)"))
      .withColumn("cost_per_additional", col("cpa_d").cast("decimal(14,2)"))
      .drop("cost_d", "cpa_d")

    // (id, start, end)
    val bookingSlots = Seq(
      (1L, ts("2017-05-20 10:00:00"), ts("2017-05-20 11:00:00")),
      (2L, ts("2017-05-20 10:00:00"), ts("2017-05-20 11:00:00")), // dup + equal-overlap of slot 1 (which has bookings)
      (3L, ts("2017-05-20 12:00:00"), ts("2017-05-20 11:30:00")), // start > end
      (4L, ts("2017-05-20 14:00:00"), ts("2017-05-20 15:00:00")), // max-pets scene
      (5L, ts("2017-05-20 16:00:00"), ts("2017-05-20 17:00:00")), // max-customers scene
      (6L, ts("2017-05-20 18:00:00"), ts("2017-05-20 19:00:00")), // multi-service scene
      (7L, ts("2017-05-20 20:00:00"), ts("2017-05-20 20:30:00")), // partial overlap pair
      (8L, ts("2017-05-20 20:15:00"), ts("2017-05-20 20:45:00")),
      (9L, ts("2017-05-20 22:00:00"), ts("2017-05-20 23:00:00")), // clean
      (10L, ts("2017-05-22 10:00:00"), ts("2017-05-22 11:00:00")), // future (complete scene)
      (11L, ts("2017-05-19 10:00:00"), ts("2017-05-19 11:00:00")),
      (12L, ts("2017-05-19 12:00:00"), ts("2017-05-19 13:00:00")),
      (13L, ts("2017-05-19 14:00:00"), ts("2017-05-19 15:00:00"))  // orphan (no bookings)
    ).toDF("id", "start", "end")

    // (id, customer_id, service_id, booking_slot_id, start, end, state)
    val bookings = Seq(
      (1L, 1L, 1L, Some(1L), ts("2017-05-20 10:00:00"), ts("2017-05-20 11:00:00"), "confirmed"),
      (2L, 1L, 1L, None, ts("2017-05-20 09:00:00"), ts("2017-05-20 09:30:00"), "confirmed"),   // active w/o slot → R3
      (3L, 2L, 1L, Some(1L), ts("2017-05-20 10:00:00"), ts("2017-05-20 11:00:00"), "canceled"), // canceled w/ slot → R3
      (4L, 2L, 1L, None, ts("2017-05-20 09:00:00"), ts("2017-05-20 09:30:00"), "canceled"),     // clean canceled
      (5L, 1L, 1L, Some(9L), ts("2017-05-20 23:00:00"), ts("2017-05-20 22:00:00"), "confirmed"), // start > end → R1
      (6L, 1L, 1L, Some(11L), ts("2017-05-19 10:00:00"), ts("2017-05-19 11:00:00"), "bogus"),   // bad state → R2
      (7L, 1L, 1L, Some(4L), ts("2017-05-20 14:00:00"), ts("2017-05-20 15:00:00"), "confirmed"), // 5 pets → R11
      (12L, 1L, 1L, Some(5L), ts("2017-05-20 16:00:00"), ts("2017-05-20 17:00:00"), "confirmed"),
      (13L, 2L, 1L, Some(5L), ts("2017-05-20 16:00:00"), ts("2017-05-20 17:00:00"), "confirmed"),
      (14L, 3L, 1L, Some(5L), ts("2017-05-20 16:00:00"), ts("2017-05-20 17:00:00"), "confirmed"), // 3 customers → R11
      (15L, 1L, 1L, Some(6L), ts("2017-05-20 18:00:00"), ts("2017-05-20 19:00:00"), "confirmed"),
      (16L, 2L, 3L, Some(6L), ts("2017-05-20 18:00:00"), ts("2017-05-20 19:00:00"), "confirmed"), // 2 services → R11
      (17L, 1L, 1L, Some(7L), ts("2017-05-20 20:00:00"), ts("2017-05-20 20:30:00"), "confirmed"),
      (18L, 2L, 1L, Some(8L), ts("2017-05-20 20:15:00"), ts("2017-05-20 20:45:00"), "confirmed"), // overlap pair → R10
      (19L, 1L, 1L, Some(9L), ts("2017-05-20 22:00:00"), ts("2017-05-20 23:00:00"), "confirmed"), // dup (cust 1, slot 9) with booking 5 → R5
      (20L, 3L, 3L, Some(10L), ts("2017-05-22 10:00:00"), ts("2017-05-22 11:00:00"), "completed"), // end > now → R12 condition
      (21L, 999L, 1L, Some(11L), ts("2017-05-19 10:00:00"), ts("2017-05-19 11:00:00"), "confirmed"), // missing customer → R9
      (22L, 1L, 1L, Some(12L), ts("2017-05-19 12:00:00"), ts("2017-05-19 13:00:00"), "confirmed")  // foreign pet → R15
    ).toDF("id", "customer_id", "service_id", "booking_slot_id", "start",
      "end", "state")

    val bookingPets = Seq(
      (1L, 1L),
      (7L, 5L), (7L, 6L), (7L, 7L), (7L, 8L), (7L, 9L), // 5 pets on slot 4
      (12L, 1L), (13L, 2L), (14L, 10L),
      (15L, 1L), (16L, 2L),
      (17L, 1L), (18L, 2L),
      (22L, 2L)                                          // pet 2 belongs to customer 2, booking 22 to customer 1
    ).toDF("booking_id", "pet_id")

    // (id, customer_id, state, due, adjustment, customer_name,
    //  invoice_address, details, paid_on). paid_on is the MonitorField
    // (invoice.py:70-71): invoice 3's matches its state-log paid entry;
    // invoice 4's was edited to 05-09 while the log says 05-02 → W7 drift.
    val invoices = Seq(
      (1L, 1L, "unpaid", Some("2017-05-20"), 0.00, "Bob Smith", "1 Road", "d1", None),  // overdue
      (2L, 1L, "unpaid", Some("2017-05-22"), 0.00, "Bob Smith", "1 Road", "d2", None),  // not due yet
      (3L, 1L, "paid", Some("2017-05-01"), 0.00, "Bob Smith", "1 Road", "d3",
        Some(ts("2017-05-03 10:00:00"))),                                               // balanced
      (4L, 2L, "paid", Some("2017-05-01"), 10.00, "Eve Jones&Co", "2 Road", "d4",
        Some(ts("2017-05-09 09:00:00"))),                                               // paid != total → R17; paid_on drift → W7
      (5L, 1L, "bogus", None, 0.00, "Bob Smith", "1 Road", "d5", None),                  // bad state → R2
      (6L, 999L, "unpaid", Some("2017-05-25"), 0.00, "??", "?", "d6", None),             // missing customer → R9
      (7L, 1L, "draft", None, 0.00, "Bob Smith", "1 Road", "d7", None)
    ).toDF("id", "customer_id", "state", "due_s", "adjustment_d",
      "customer_name", "invoice_address", "details", "paid_on")
      .withColumn("due", col("due_s").cast("date")).drop("due_s")
      .withColumn("adjustment", col("adjustment_d").cast("decimal(14,2)"))
      .drop("adjustment_d")

    // post-send edit snapshot: invoice 1 (unpaid → protected) edited,
    // invoice 7 (draft → editable) edited
    val invoicesAfter = invoices
      .withColumn("details",
        when(col("id") === 1L, lit("EDITED"))
          .when(col("id") === 7L, lit("EDITED DRAFT"))
          .otherwise(col("details")))

    // (id, name, line, quantity, state, customer_id, invoice_id, parent_charge_id)
    val charges = Seq(
      (100L, "Walk", 20.00, 1, "unpaid", Some(1L), None, None),
      (101L, "Big walk", 50.00, 1, "paid", Some(1L), None, None),
      (102L, "Big walk - Refund", -30.00, 1, "refund", Some(1L), None, Some(101L)),
      (103L, "Big walk - Refund", -30.00, 1, "refund", Some(1L), None, Some(101L)), // over-refund → R17
      (104L, "Trim", 40.00, 1, "paid", Some(1L), None, None),
      (105L, "Trim - Refund", -10.00, 1, "refund", Some(1L), None, Some(104L)),     // partial, fine
      (106L, "Ghost", 5.00, 1, "void", Some(1L), Some(1L), None),                    // void w/ invoice → detached rule
      (107L, "c1", 10.00, 1, "paid", Some(1L), Some(3L), None),
      (108L, "c2", 10.00, 1, "paid", Some(1L), Some(3L), None),
      (109L, "c3", 10.00, 1, "paid", Some(1L), Some(3L), None),
      (110L, "c4", 10.00, 1, "paid", Some(2L), Some(4L), None),
      (111L, "c5", 10.00, 1, "paid", Some(2L), Some(4L), None),
      (112L, "c6", 10.00, 1, "paid", Some(2L), Some(4L), None),
      (113L, "u1", 15.00, 2, "unpaid", Some(1L), Some(1L), None)
    ).toDF("id", "name", "line_d", "quantity", "state", "customer_id",
      "invoice_id", "parent_charge_id")
      .withColumn("line", col("line_d").cast("decimal(14,2)")).drop("line_d")

    // (id, invoice_id, customer_id, amount)
    val payments = Seq(
      (1L, Some(3L), Some(1L), 30.00),
      (2L, Some(4L), Some(2L), 30.00),   // total is 40 → paid != total
      (3L, Some(1L), Some(1L), -5.00),   // negative → R4
      (4L, Some(999L), Some(1L), 5.00)   // missing invoice → R9
    ).toDF("id", "invoice_id", "customer_id", "amount_d")
      .withColumn("amount", col("amount_d").cast("decimal(14,2)"))
      .drop("amount_d")

    // (entity, entity_id, ts, source_state, state)
    val stateLog = Seq(
      ("booking", 1L, ts("2017-05-19 10:00:00"), "enquiry", "preliminary"),
      ("booking", 1L, ts("2017-05-19 11:00:00"), "preliminary", "confirmed"),
      ("booking", 6L, ts("2017-05-19 12:00:00"), "preliminary", "completed"), // illegal
      ("invoice", 3L, ts("2017-05-02 10:00:00"), "draft", "unpaid"),
      ("invoice", 3L, ts("2017-05-03 10:00:00"), "unpaid", "paid"),
      ("invoice", 4L, ts("2017-05-02 10:00:00"), "draft", "paid"),           // illegal
      ("charge", 101L, ts("2017-05-03 10:00:00"), "unpaid", "paid"),
      ("charge", 100L, ts("2017-05-03 11:00:00"), "paid", "unpaid")          // illegal
    ).toDF("entity", "entity_id", "ts", "source_state", "state")

    // (id, invoice_id, opened) — S9 append-only open events keyed on the
    // invoice FK (invoice.py:329-337 InvoiceOpen: opened auto_now_add,
    // FK invoice, related_name="opens"). Invoice 1 opened three times,
    // 2 once, 4 twice; the rest never.
    val invoiceOpens = Seq(
      (1L, 1L, ts("2017-05-18 09:00:00")),
      (2L, 1L, ts("2017-05-18 10:30:00")),
      (3L, 1L, ts("2017-05-20 08:00:00")),
      (4L, 2L, ts("2017-05-19 14:00:00")),
      (5L, 4L, ts("2017-05-10 12:00:00")),
      (6L, 4L, ts("2017-05-10 12:05:00"))
    ).toDF("id", "invoice_id", "opened")

    // ONE partition per fixture table: a LocalRelation feeding an
    // exchange plans as LocalTableScanExec with up to
    // leafNodeDefaultParallelism slices — at local[32] that is ONE ROW
    // PER TASK for these 4-16-row tables, and the replay's 22 branches
    // then pay ~100 ms of fixed task cost per row (OPTIMIZATION_r08 §9:
    // 277 tasks / 24 s task time for 41 result rows). Fixture volume is
    // KBs by definition, so a single slice per table is the honest
    // shape; the engine's own parallelism downstream is untouched.
    def one(df: DataFrame): DataFrame = df.coalesce(1)
    Tables(one(customers), one(pets), one(contacts), one(services),
      one(bookingSlots), one(bookings), one(bookingPets), one(invoices),
      one(charges), one(payments), one(stateLog), one(invoicesAfter),
      one(invoiceOpens))
  }
}
