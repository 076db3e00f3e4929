package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Scalar-function surface: string, date/time, math, array/higher-order,
  * map, and JSON expressions — all codegen'd Catalyst built-ins, no UDFs.
  *
  * Cross-engine notes: regexes are kept to the Java∩RE2 common subset;
  * math is restricted to IEEE-exact ops (sqrt is correctly-rounded by
  * spec; exp/ln/pow are deliberately absent — libm results differ in the
  * last ulp between JVM and C++); integer day-of-week is aligned to
  * Spark's 1=Sunday convention.
  */
object ScalarQueries {

  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    // String kitchen over part.
    "q_scalar_string" -> ((s, d) =>
      part(s, d)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("name_up"),
          length(col("p_name")).as("name_len"),
          substring(col("p_name"), 1, 4).as("name_pre"),
          element_at(split(col("p_name"), " "), 1).as("first_word"),
          concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
          col("p_name").like("%green%").as("is_green"),
          regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
          lpad(col("p_size").cast("string"), 3, "0").as("size_pad"),
          replace(col("p_type"), lit("SMALL"), lit("S")).as("type_repl"))
        .orderBy("p_partkey")),

    // Date/time kitchen over orders (o_orderdate is TIMESTAMP_NTZ).
    "q_scalar_date" -> ((s, d) =>
      orders(s, d)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          dayofweek(col("o_orderdate")).as("dow"), // 1=Sunday
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).as("days_since"),
          unix_micros(date_trunc("month", col("o_orderdate")).cast("timestamp")).as("month_us"),
          quarter(col("o_orderdate")).as("q"))
        .orderBy("o_orderkey")),

    // Calendar-interval arithmetic: month addition (end-of-month
    // clamped identically in both engines), month-end, day and
    // sub-day interval shifts. Derived timestamps exit as epoch
    // micros, dates as DATE (Tables rules) — interval values
    // themselves never reach the output (no cross-engine interval
    // rendering).
    "q_scalar_interval" -> ((s, d) =>
      orders(s, d)
        .select(
          col("o_orderkey"),
          add_months(col("o_orderdate"), 3).as("plus3m"),
          last_day(col("o_orderdate")).as("eom"),
          to_date(col("o_orderdate") + expr("INTERVAL 45 DAYS")).as("plus45d"),
          unix_micros((col("o_orderdate") + expr("INTERVAL 90 MINUTES"))
            .cast("timestamp")).as("plus90min_us"))
        .orderBy("o_orderkey")),

    // Math kitchen over lineitem — IEEE-exact operations only.
    "q_scalar_math" -> ((s, d) =>
      lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - 25.0).as("qty_dev"),
          sqrt(col("l_quantity")).as("qty_sqrt"),
          floor(col("l_extendedprice")).as("price_floor"),
          ceil(col("l_extendedprice")).as("price_ceil"),
          (col("l_partkey") % 7).as("part_mod"),
          greatest(col("l_discount"), col("l_tax")).as("max_rate"),
          least(col("l_discount"), col("l_tax")).as("min_rate"),
          signum(col("l_quantity") - 25.0).cast("int").as("qty_sign"))
        .orderBy("l_orderkey", "l_linenumber")),

    // Array / higher-order functions over tokenized part names. Array
    // results are emitted as joined strings (pandas comparator can't
    // hash array cells); the array ops themselves still run natively.
    "q_scalar_array" -> ((s, d) =>
      part(s, d)
        .withColumn("toks", split(col("p_name"), " "))
        .select(
          col("p_partkey"),
          size(col("toks")).as("n_toks"),
          array_contains(col("toks"), "green").as("has_green"),
          array_join(sort_array(col("toks")), "|").as("toks_sorted"),
          array_join(transform(col("toks"), x => upper(x)), "-").as("toks_up"),
          array_join(filter(col("toks"), x => length(x) > 4), "|").as("long_toks"),
          aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x)).as("char_sum"))
        .orderBy("p_partkey")),

    // Generator/UDTF surface: posexplode over tokenized documents —
    // each doc emits its first 3 tokens with a 1-based position. The
    // generate stays inside whole-stage codegen; at scale this is the
    // flatMap shape used for shingling/token explosion everywhere else.
    "q_explode_pos" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), posexplode(slice(split(col("text"), " "), 1, 3)))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"),
          length(col("col")).as("tok_len"))
        .orderBy("doc_id", "pos")),

    // Bitwise kitchen: and/or/xor/shifts/not over key columns — exact
    // integer ops, identical in any engine. (The generator's rkey bit
    // permutation is built from exactly these primitives.)
    "q_scalar_bitwise" -> ((s, d) =>
      nation(s, d)
        .select(
          col("n_nationkey"),
          (col("n_nationkey").bitwiseAND(col("n_regionkey"))).as("b_and"),
          (col("n_nationkey").bitwiseOR(col("n_regionkey"))).as("b_or"),
          (col("n_nationkey").bitwiseXOR(col("n_regionkey"))).as("b_xor"),
          shiftleft(col("n_nationkey"), 3).as("b_shl"),
          shiftright(col("n_nationkey"), 1).as("b_shr"),
          bitwise_not(col("n_nationkey")).as("b_not"),
          bit_count(col("n_nationkey")).as("b_pop"))
        .orderBy("n_nationkey")),

    // Custom Generator (UDTF) surface: graft_shingles streams one row
    // per character shingle without materializing an intermediate
    // array per document (contrast q_explode_pos, the built-in
    // array+posexplode route). Registered via GraftExtensions.
    "q_shingle_gen" -> ((s, d) => {
      documents(s, d)
        .filter(col("doc_id") < 5)
        .select(col("doc_id"), expr("graft_shingles(text, 5)").as(Seq("pos", "shingle")))
        .orderBy("doc_id", "pos")
    }),

    // Map construction + extraction. DuckDB map extract yields a LIST,
    // so the oracle indexes [1]; Spark's element_at is already scalar.
    "q_scalar_map" -> ((s, d) =>
      region(s, d)
        .select(
          col("r_regionkey"),
          element_at(
            map(lit("name"), col("r_name"), lit("key"), col("r_regionkey").cast("string")),
            "name").as("from_map"))
        .orderBy("r_regionkey")),

    // Struct (nested record) surface: build, filter through, and
    // project out of a STRUCT column. Catalyst's SimplifyExtractValueOps
    // collapses struct(...).field back to the source column, so the
    // nested abstraction is zero-cost in the physical plan — structs
    // only materialize when they reach a sink/shuffle, which is why the
    // output re-flattens them (and why the comparator never sees one).
    "q_scalar_struct" -> ((s, d) =>
      orders(s, d)
        .withColumn("os", struct(
          col("o_orderstatus").as("st"),
          col("o_totalprice").as("tp"),
          col("o_orderkey").as("k")))
        .filter(col("os.st") =!= lit("P"))
        .select(
          col("os.k").as("o_orderkey"),
          col("os.st").as("status"),
          (col("os.tp") + col("os.tp")).as("tp2"))
        .orderBy("o_orderkey")),

    // Typed Aggregator (UDAF): quantity-weighted average price per
    // return flag, exact-integer buffer (graft.functions.WeightedAvgPrice).
    "q_agg_typed" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d)
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_quantity").cast("long").as("qty"))
        .as[(String, Long, Long)]
        .groupByKey(_._1)
        .agg(graft.functions.WeightedAvgPrice.toColumn.name("wavg_price"))
        .toDF("l_returnflag", "wavg_price")
        .orderBy("l_returnflag")
    }),

    // Pivot: line-status counts as columns per return flag.
    "q_pivot" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0L)).as("f_cnt"),
          coalesce(col("O"), lit(0L)).as("o_cnt"))
        .orderBy("l_returnflag")),

    // JSON extraction over events.props (shape {"k": <int>}).
    "q_json_props" -> ((s, d) =>
      events(s, d)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k_val"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k_struct"))
        .orderBy("event_id")),

    // Spark 4 VariantType: parse the JSON ONCE into a binary variant,
    // extract typed paths from it many times — at scale the parse is
    // the expensive step and the variant column amortizes it across
    // every downstream extraction (vs get_json_object re-parsing per
    // path). Extractions feed a grouped aggregate so the variant work
    // stays inside whole-stage codegen.
    "q_json_variant" -> ((s, d) =>
      events(s, d)
        .withColumn("v", parse_json(col("props")))
        .select(col("event_type"),
          variant_get(col("v"), "$.k", "bigint").as("k_val"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k_val")).as("k_sum"),
          min(col("k_val")).as("k_min"),
          max(col("k_val")).as("k_max"))
        .orderBy("event_type")),

    // URL parsing — web-corpus pipelines canonicalize/filter on URL
    // components before dedup and quality scoring. The URL is
    // synthesized deterministically from document fields, then pulled
    // apart with parse_url (a codegen'd built-in backed by java.net.URI;
    // the extraction is NOT string-reversal of the construction). The
    // oracle reconstructs the expected components from the same fields —
    // DuckDB has no parse_url, so the check is construct-vs-parse
    // round-trip equality. Row-local, shuffle-free at any scale.
    "q_scalar_url" -> ((s, d) =>
      documents(s, d)
        .withColumn("url",
          concat(lit("https://"), col("source"), lit(".example.com/"),
            col("lang"), lit("/doc-"), col("doc_id").cast("string"),
            lit("?q="), col("n_chars").cast("string"),
            lit("&src="), col("source")))
        .select(col("doc_id"),
          expr("parse_url(url, 'PROTOCOL')").as("proto"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY')").as("query"),
          expr("parse_url(url, 'QUERY', 'q')").as("q_param"))
        .orderBy("doc_id")),
  )

  def oracles: Map[String, String] = Map(
    "q_scalar_string" ->
      """SELECT p_partkey,
        |  upper(p_name) AS name_up,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  substr(p_name, 1, 4) AS name_pre,
        |  string_split(p_name, ' ')[1] AS first_word,
        |  concat_ws('/', p_brand, p_type) AS brand_type,
        |  p_name LIKE '%green%' AS is_green,
        |  regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
        |  lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_pad,
        |  replace(p_type, 'SMALL', 'S') AS type_repl
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_scalar_date" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |  o_orderdate::DATE + 30 AS plus30,
        |  CAST(datediff('day', DATE '1995-01-01', o_orderdate::DATE) AS INT) AS days_since,
        |  epoch_us(date_trunc('month', o_orderdate)) AS month_us,
        |  CAST(quarter(o_orderdate) AS INT) AS q
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_scalar_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_quantity - 25.0) AS qty_dev,
        |  sqrt(l_quantity) AS qty_sqrt,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  l_partkey % 7 AS part_mod,
        |  greatest(l_discount, l_tax) AS max_rate,
        |  least(l_discount, l_tax) AS min_rate,
        |  CAST(CASE WHEN l_quantity > 25.0 THEN 1 WHEN l_quantity < 25.0 THEN -1 ELSE 0 END AS INT) AS qty_sign
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_scalar_array" ->
      """SELECT p_partkey,
        |  CAST(len(string_split(p_name, ' ')) AS INT) AS n_toks,
        |  list_contains(string_split(p_name, ' '), 'green') AS has_green,
        |  array_to_string(list_sort(string_split(p_name, ' ')), '|') AS toks_sorted,
        |  array_to_string(list_transform(string_split(p_name, ' '), x -> upper(x)), '-') AS toks_up,
        |  coalesce(array_to_string(list_filter(string_split(p_name, ' '), x -> length(x) > 4), '|'), '') AS long_toks,
        |  CAST(list_sum(list_transform(string_split(p_name, ' '), x -> length(x))) AS BIGINT) AS char_sum
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_explode_pos" ->
      """SELECT doc_id, CAST(u.s.i AS INT) AS pos, u.s.tok AS tok,
        |  CAST(length(u.s.tok) AS INT) AS tok_len
        |FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) t,
        |     UNNEST(list_transform(range(1, least(len(l), 3) + 1),
        |            i -> {'i': i, 'tok': l[i]})) AS u(s)
        |ORDER BY doc_id, pos""".stripMargin,

    "q_scalar_bitwise" ->
      """SELECT n_nationkey,
        |  n_nationkey & n_regionkey AS b_and,
        |  n_nationkey | n_regionkey AS b_or,
        |  xor(n_nationkey, n_regionkey) AS b_xor,
        |  n_nationkey << 3 AS b_shl,
        |  n_nationkey >> 1 AS b_shr,
        |  ~n_nationkey AS b_not,
        |  CAST(bit_count(n_nationkey) AS INT) AS b_pop
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q_shingle_gen" ->
      """SELECT doc_id, CAST(u.s.i AS INT) AS pos, u.s.sh AS shingle
        |FROM (SELECT doc_id, text FROM documents WHERE doc_id < 5) t,
        |     UNNEST(list_transform(range(1, greatest(length(text) - 4, 1) + 1),
        |            i -> {'i': i, 'sh': substr(text, i, 5)})) AS u(s)
        |ORDER BY doc_id, pos""".stripMargin,

    "q_scalar_map" ->
      """SELECT r_regionkey,
        |  map(['name','key'], [r_name, CAST(r_regionkey AS VARCHAR)])['name'][1] AS from_map
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "q_scalar_interval" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS plus45d,
        |  epoch_us(o_orderdate + INTERVAL 90 MINUTE) AS plus90min_us
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_scalar_struct" ->
      """SELECT s.k AS o_orderkey, s.st AS status, s.tp + s.tp AS tp2
        |FROM (SELECT struct_pack(st := o_orderstatus, tp := o_totalprice,
        |                         k := o_orderkey) AS s
        |      FROM orders)
        |WHERE s.st <> 'P'
        |ORDER BY o_orderkey""".stripMargin,

    "q_agg_typed" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |    / (CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) * 100.0) AS wavg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_pivot" ->
      """SELECT l_returnflag,
        |  CAST(count(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS f_cnt,
        |  CAST(count(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS o_cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_json_props" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k')::BIGINT AS k_val,
        |  json_extract_string(props, '$.k')::INT AS k_struct
        |FROM events ORDER BY event_id""".stripMargin,

    "q_json_variant" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS k_sum,
        |  min(json_extract_string(props, '$.k')::BIGINT) AS k_min,
        |  max(json_extract_string(props, '$.k')::BIGINT) AS k_max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // expected components reconstructed from the source fields (DuckDB
    // has no parse_url) — the gate checks construct-vs-parse round-trip
    "q_scalar_url" ->
      """SELECT doc_id,
        |  'https' AS proto,
        |  source || '.example.com' AS host,
        |  '/' || lang || '/doc-' || CAST(doc_id AS VARCHAR) AS path,
        |  'q=' || CAST(n_chars AS VARCHAR) || '&src=' || source AS query,
        |  CAST(n_chars AS VARCHAR) AS q_param
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
