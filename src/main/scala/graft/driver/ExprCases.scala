package graft.driver

import org.apache.spark.sql.functions._

import graft.dftly.Dftly

/** Driver queries for dftly op-maps over the relational tables, temporal
  * joins, JSON reads and the salted join.
  */
private[graft] object ExprCases {

  val cases: Seq[Case] = Seq(
    Case("q01_arith", (s, dir) =>
      Dftly.select(
        t(s, dir, "lineitem"),
        """l_orderkey: $l_orderkey
          |l_linenumber: $l_linenumber
          |revenue: $l_extendedprice * (1 - $l_discount)
          |charge: $l_extendedprice * (1 - $l_discount) * (1 + $l_tax)
          |qdiff: $l_quantity - 10
          |half_q: $l_quantity / 2
          |neg_disc: -$l_discount
          |pow2: 2 ** $l_linenumber
          |""".stripMargin
      ),
      Sql("""SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS revenue,
        |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
        |  l_quantity - 10 AS qdiff,
        |  l_quantity / 2 AS half_q,
        |  -l_discount AS neg_disc,
        |  power(2, l_linenumber) AS pow2
        |FROM lineitem""".stripMargin)),
    Case("q02_logic", (s, dir) =>
      Dftly.select(
        t(s, dir, "lineitem"),
        """l_orderkey: $l_orderkey
          |l_linenumber: $l_linenumber
          |is_big: $l_quantity >= 30 and $l_discount < 0.05
          |is_r: $l_returnflag == 'R'
          |flag_or: $l_returnflag == 'R' or $l_linestatus == 'F'
          |not_big: not ($l_quantity >= 30)
          |neq: $l_returnflag != $l_linestatus
          |minv: min($l_quantity, $l_extendedprice)
          |maxv: max($l_quantity, $l_extendedprice)
          |meanv: mean($l_quantity, $l_extendedprice, $l_discount)
          |""".stripMargin
      ),
      Sql("""SELECT l_orderkey, l_linenumber,
        |  (l_quantity >= 30 AND l_discount < 0.05) AS is_big,
        |  (l_returnflag = 'R') AS is_r,
        |  (l_returnflag = 'R' OR l_linestatus = 'F') AS flag_or,
        |  NOT (l_quantity >= 30) AS not_big,
        |  (l_returnflag <> l_linestatus) AS neq,
        |  least(l_quantity, l_extendedprice) AS minv,
        |  greatest(l_quantity, l_extendedprice) AS maxv,
        |  (l_quantity + l_extendedprice + l_discount) / 3 AS meanv
        |FROM lineitem""".stripMargin)),
    Case("q03_conditional", (s, dir) =>
      Dftly.select(
        t(s, dir, "orders"),
        """o_orderkey: $o_orderkey
          |status_desc: "'open' if $o_orderstatus == 'O' else ('final' if $o_orderstatus == 'F' else 'partial')"
          |maybe_high: $o_totalprice if $o_totalprice > 150000
          |high_or_zero: ($o_totalprice if $o_totalprice > 150000) ?? 0
          |""".stripMargin
      ),
      Sql("""SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'O' THEN 'open'
        |       WHEN o_orderstatus = 'F' THEN 'final'
        |       ELSE 'partial' END AS status_desc,
        |  CASE WHEN o_totalprice > 150000 THEN o_totalprice END AS maybe_high,
        |  coalesce(CASE WHEN o_totalprice > 150000 THEN o_totalprice END, 0) AS high_or_zero
        |FROM orders""".stripMargin)),
    Case("q04_strings", (s, dir) =>
      Dftly.select(
        t(s, dir, "part"),
        """p_partkey: $p_partkey
          |name_len: len_chars($p_name)::int64
          |name_start: $p_name[0:8]
          |name_end: $p_name[-4:]
          |brand_sz: f"{$p_brand}#{$p_size}"
          |type_words: split($p_type, ' ')
          |first3: $p_name[:3]
          |""".stripMargin
      // The driver's pandas compare cannot sort/hash array cells, so the
      // split output is joined back to a scalar for the contract; the raw
      // array behavior stays covered in ScalaTest (GoldenReadmeSpec).
      ).withColumn("type_words", concat_ws(",", col("type_words"))),
      Sql("""SELECT p_partkey,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  substr(p_name, 1, 8) AS name_start,
        |  right(p_name, 4) AS name_end,
        |  p_brand || '#' || CAST(p_size AS VARCHAR) AS brand_sz,
        |  array_to_string(string_split(p_type, ' '), ',') AS type_words,
        |  substr(p_name, 1, 3) AS first3
        |FROM part""".stripMargin)),
    Case("q05_regex", (s, dir) =>
      Dftly.select(
        t(s, dir, "orders"),
        """o_orderkey: $o_orderkey
          |prio_num: (extract group 1 of /^(\d+)-/ from $o_orderpriority)::?int
          |is_urgent: /URGENT/ in $o_orderpriority
          |prio_word: extract /[A-Z]+$/ from $o_orderpriority
          |""".stripMargin
      ),
      Sql("""SELECT o_orderkey,
        |  TRY_CAST(regexp_extract(o_orderpriority, '^(\d+)-', 1) AS INTEGER) AS prio_num,
        |  regexp_matches(o_orderpriority, 'URGENT') AS is_urgent,
        |  CASE WHEN regexp_matches(o_orderpriority, '[A-Z]+$')
        |       THEN regexp_extract(o_orderpriority, '[A-Z]+$') END AS prio_word
        |FROM orders""".stripMargin)),
    Case("q06_cast", (s, dir) =>
      Dftly.select(
        t(s, dir, "customer"),
        """c_custkey: $c_custkey
          |key_str: $c_custkey::str
          |key_back: ($c_custkey::str)::int64
          |seg_int_null: $c_mktsegment::?int32
          |nation_long: $c_nationkey::int64
          |nation_short: $c_nationkey::int16
          |""".stripMargin
      ),
      Sql("""SELECT c_custkey,
        |  CAST(c_custkey AS VARCHAR) AS key_str,
        |  CAST(CAST(c_custkey AS VARCHAR) AS BIGINT) AS key_back,
        |  TRY_CAST(c_mktsegment AS INTEGER) AS seg_int_null,
        |  CAST(c_nationkey AS BIGINT) AS nation_long,
        |  CAST(c_nationkey AS SMALLINT) AS nation_short
        |FROM customer""".stripMargin)),
    Case("q07_datetime", (s, dir) =>
      Dftly.select(
        t(s, dir, "orders"),
        """o_orderkey: $o_orderkey
          |yr: $o_orderdate::year_of_date::int64
          |mo: $o_orderdate::month_of_year::int64
          |dom: $o_orderdate::day_of_month::int64
          |dow: $o_orderdate::day_of_week::int64
          |doy: $o_orderdate::day_of_year::int64
          |wk: $o_orderdate::week_of_year::int64
          |qtr: $o_orderdate::quarter_of_year::int64
          |hr: $o_orderdate::hour_of_day::int64
          |""".stripMargin
      ),
      Sql("""SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  CAST(isodow(o_orderdate) AS BIGINT) AS dow,
        |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
        |  CAST(week(o_orderdate) AS BIGINT) AS wk,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(hour(o_orderdate) AS BIGINT) AS hr
        |FROM orders""".stripMargin)),
    Case("q08_duration", (s, dir) =>
      Dftly.select(
        t(s, dir, "lineitem"),
        """l_orderkey: $l_orderkey
          |l_linenumber: $l_linenumber
          |age_secs: ($l_shipdate - 1990-01-01 00:00:00)::total_seconds
          |age_hours: ($l_shipdate - 1990-01-01 00:00:00)::total_hours
          |age_days: ($l_shipdate - 1990-01-01 00:00:00)::total_days
          |age_ns: ($l_shipdate - 1990-01-01 00:00:00)::total_nanoseconds
          |plus_week: $l_shipdate + 1::weeks
          |""".stripMargin
      ),
      Sql("""SELECT l_orderkey, l_linenumber,
        |  date_diff('second', TIMESTAMP '1990-01-01', l_shipdate) AS age_secs,
        |  CAST(floor(date_diff('second', TIMESTAMP '1990-01-01', l_shipdate) / 3600.0) AS BIGINT) AS age_hours,
        |  CAST(floor(date_diff('second', TIMESTAMP '1990-01-01', l_shipdate) / 86400.0) AS BIGINT) AS age_days,
        |  date_diff('microsecond', TIMESTAMP '1990-01-01', l_shipdate) * 1000 AS age_ns,
        |  l_shipdate + INTERVAL 7 DAY AS plus_week
        |FROM lineitem""".stripMargin)),
    Case("q09_strptime", (s, dir) =>
      Dftly.select(
        t(s, dir, "orders"),
        """o_orderkey: $o_orderkey
          |date_str: $o_orderdate::str
          |reparsed: ($o_orderdate::str)::"%Y-%m-%d %H:%M:%S"
          |date_only: (($o_orderdate::str)[0:10])::"%Y-%m-%d"
          |""".stripMargin
      ),
      Sql("""SELECT o_orderkey,
        |  CAST(o_orderdate AS VARCHAR) AS date_str,
        |  strptime(CAST(o_orderdate AS VARCHAR), '%Y-%m-%d %H:%M:%S') AS reparsed,
        |  CAST(strptime(substr(CAST(o_orderdate AS VARCHAR), 1, 10), '%Y-%m-%d') AS DATE) AS date_only
        |FROM orders""".stripMargin)),
    Case("q10_settime", (s, dir) =>
      Dftly.select(
        t(s, dir, "orders"),
        """o_orderkey: $o_orderkey
          |at_1130: ($o_orderdate::date) @ 11:30
          |""".stripMargin
      ),
      Sql("""SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) + TIME '11:30:00' AS at_1130
        |FROM orders""".stripMargin)),
    Case("q11_units", (s, dir) =>
      Dftly.select(
        t(s, dir, "lineitem"),
        // ln_year stays inside pandas' datetime64[ns] range (1677–2262):
        // years 1–7 are identical proleptic-Gregorian dates in Spark and
        // DuckDB, but the driver's pandas normalization can't represent them
        // and hashes them engine-dependently.
        """l_orderkey: $l_orderkey
          |l_linenumber: $l_linenumber
          |qty_min_secs: ($l_quantity::int32)::minutes::total_seconds
          |qty_hr_mins: ($l_quantity::int32)::hours::total_minutes
          |qty_mo_secs: ($l_quantity::int32)::months::total_seconds
          |qty_yr_secs: ($l_quantity::int32)::years::total_seconds
          |qty_ms_us: ($l_quantity::int32)::milliseconds::total_microseconds
          |ln_year: ($l_linenumber + 1990)::year
          |""".stripMargin
      ),
      Sql("""SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_quantity AS INTEGER) * 60 AS BIGINT) AS qty_min_secs,
        |  CAST(CAST(l_quantity AS INTEGER) * 60 AS BIGINT) AS qty_hr_mins,
        |  CAST(CAST(l_quantity AS INTEGER) AS BIGINT) * 2629800 AS qty_mo_secs,
        |  CAST(CAST(l_quantity AS INTEGER) AS BIGINT) * 31557600 AS qty_yr_secs,
        |  CAST(CAST(l_quantity AS INTEGER) AS BIGINT) * 1000 AS qty_ms_us,
        |  make_date(l_linenumber + 1990, 1, 1) AS ln_year
        |FROM lineitem""".stripMargin)),
    // hash bits are engine-specific (SURVEY.md §2.8.1): no SQL oracle; the
    // driver records a rows-only check.
    Case("q12_hash", (s, dir) =>
      Dftly.select(
        t(s, dir, "customer"),
        """c_custkey: $c_custkey
          |h: hash($c_name)
          |sh: signed_hash($c_name)
          |hnull: hash($c_mktsegment::?int32)
          |""".stripMargin
      ),
      Exempt("hash bits are engine-specific; property companion q12b_hash_props")),
    // Structural hash properties ARE oracle-checkable even though the bits
    // aren't (reference arithmetic.py:10-24): null-in → null-out,
    // determinism, and input sensitivity, each reduced to a boolean/long the
    // oracle can state independently of the hash function.
    Case("q12b_hash_props", (s, dir) =>
      Dftly.select(
        t(s, dir, "customer"),
        """c_custkey: $c_custkey
          |null_in_null_out: (hash($c_mktsegment::?int32) ?? -1) == -1
          |null_guard: (hash($c_custkey if $c_acctbal > 0) ?? -1) == -1
          |det: hash($c_name) - hash($c_name) == 0
          |sdet: signed_hash($c_name) - signed_hash($c_name) == 0
          |differs: hash($c_custkey::str) != hash(($c_custkey + 1)::str)
          |""".stripMargin
      ),
      // The oracle states each structural hash property from the *input* side
      // (hash(x) IS NULL ⟺ x IS NULL; determinism; sensitivity), so it holds
      // for any engine's hash bits. The `?? -1` sentinel on the Spark side can
      // only misfire if a real hash equals -1 (p ≈ n/2^64 — negligible and
      // deterministic).
      Sql("""SELECT c_custkey,
        |  (TRY_CAST(c_mktsegment AS INTEGER) IS NULL) AS null_in_null_out,
        |  (c_acctbal <= 0) AS null_guard,
        |  TRUE AS det,
        |  TRUE AS sdet,
        |  TRUE AS differs
        |FROM customer""".stripMargin)),
    Case("q21_events", (s, dir) => {
      val ev = graft.sources.Readers.readEvents(s, dir)
      Dftly.select(
        ev,
        """event_id: $event_id
          |k_val: '(extract group 1 of /"k": (\d+)/ from $props)::?int'
          |is_err: $event_type == 'error'
          |ev_hour: $ts::hour_of_day::int64
          |ev_min: $ts::minute_of_hour::int64
          |ev_sec: $ts::second_of_minute::int64
          |ev_us: ($ts - 2024-01-01 00:00:00)::total_microseconds
          |ev_ms: ($ts - 2024-01-01 00:00:00)::total_milliseconds
          |""".stripMargin
      )
    },
      Sql("""SELECT event_id,
        |  TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k_val,
        |  (event_type = 'error') AS is_err,
        |  CAST(hour(ts) AS BIGINT) AS ev_hour,
        |  CAST(minute(ts) AS BIGINT) AS ev_min,
        |  CAST(second(ts) AS BIGINT) AS ev_sec,
        |  date_diff('microsecond', TIMESTAMP '2024-01-01', ts) AS ev_us,
        |  CAST(floor(date_diff('microsecond', TIMESTAMP '2024-01-01', ts) / 1000.0) AS BIGINT) AS ev_ms
        |FROM events""".stripMargin)),
    // As-of join (single-shuffle union+window formulation) vs DuckDB's
    // native ASOF JOIN: for each purchase, the latest prior signup per user.
    Case("q24_asof", (s, dir) => {
      val ev = graft.sources.Readers.readEvents(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("sts"), col("event_id").as("signup_id"))
      graft.ops.TemporalJoin.asOfJoin(
        purchases, signups, Seq("user_id"), "ts", "sts", Seq("signup_id"))
        .select(col("event_id"), col("signup_id"))
    },
      Sql("""WITH purchases AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        |), signups AS (
        |  SELECT event_id AS signup_id, user_id, ts FROM events WHERE event_type = 'signup'
        |)
        |SELECT p.event_id, s.signup_id
        |FROM purchases p ASOF LEFT JOIN signups s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin)),
    // Range join (bucketized interval containment) vs a plain DuckDB
    // inequality join: purchases within 2 days after any signup, per user.
    Case("q25_range", (s, dir) => {
      val ev = graft.sources.Readers.readEvents(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 2 DAYS")).as("w_end"),
          col("event_id").as("signup_id"))
      graft.ops.TemporalJoin.rangeJoin(
        purchases, windows, Seq("user_id"), "ts", "w_start", "w_end",
        bucketMicros = 6L * 3600 * 1000000)
        .select(col("event_id"), col("signup_id"))
    },
      Sql("""WITH purchases AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        |), wins AS (
        |  SELECT event_id AS signup_id, user_id, ts AS w_start,
        |         ts + INTERVAL 2 DAY AS w_end
        |  FROM events WHERE event_type = 'signup'
        |)
        |SELECT p.event_id, w.signup_id
        |FROM purchases p JOIN wins w
        |  ON p.user_id = w.user_id AND p.ts >= w.w_start AND p.ts <= w.w_end""".stripMargin)),
    // Schema'd JSON property extraction — from_json (typed struct) and
    // get_json_object (path) against DuckDB's json_extract.
    Case("q32_json", (s, dir) => {
      graft.sources.Readers.readEvents(s, dir).select(
        col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType)))).getField("k").as("k_json"),
        get_json_object(col("props"), "$.k").cast("int").as("k_path"))
    },
      Sql("""SELECT event_id,
        |  json_extract(props, '$.k')::INTEGER AS k_json,
        |  json_extract(props, '$.k')::INTEGER AS k_path
        |FROM events""".stripMargin)),
    // Salted skew join under the oracle gate: the salt must not change the
    // join result — the oracle is the PLAIN join.
    Case("q35_salted_join", (s, dir) => {
      val lineitem = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"))
      val orders = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
      graft.ops.SkewJoin.saltedEquiJoin(lineitem, orders, "l_orderkey", "o_orderkey", factor = 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("o_orderstatus"))
    },
      Sql("""SELECT l_orderkey, l_linenumber, o_orderstatus
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin))
  )
}
