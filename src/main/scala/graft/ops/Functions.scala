package graft.ops

import graft.{Op, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType}

/** SURVEY.md §2-D — scalar function families, one combined query per family.
  * Return types are aligned with DuckDB explicitly (DuckDB length/year/rank
  * return BIGINT where Spark returns INT; DuckDB floor returns DOUBLE where
  * Spark returns BIGINT) and transcendental outputs are rounded to absorb
  * libm last-ulp differences.
  */
object Functions {

  val ops: Seq[Op] = Seq(

    Op("fn_string",
      (s, d) => T.t(s, d, "part").select(
          col("p_partkey"),
          expr("upper(p_name)").as("up_name"),
          expr("lower(p_brand)").as("low_brand"),
          expr("substring(p_name, 1, 8)").as("name8"),
          expr("concat(p_brand, ':', p_type)").as("brand_type"),
          expr("length(p_name)").as("name_len"),
          expr("p_type LIKE '%a%'").as("has_a"),
          expr("lpad(p_brand, 12, '*')").as("brand_pad"),
          expr("regexp_extract(p_name, '([a-z]+)', 1)").as("first_word"),
          expr("array_join(split(p_type, ' '), '|')").as("type_parts"))
        .orderBy("p_partkey"),
      Some("SELECT p_partkey, upper(p_name) AS up_name, lower(p_brand) AS low_brand, " +
        "substring(p_name, 1, 8) AS name8, concat(p_brand, ':', p_type) AS brand_type, " +
        "CAST(length(p_name) AS INTEGER) AS name_len, p_type LIKE '%a%' AS has_a, " +
        "lpad(p_brand, 12, '*') AS brand_pad, " +
        "regexp_extract(p_name, '([a-z]+)', 1) AS first_word, " +
        "array_to_string(string_split(p_type, ' '), '|') AS type_parts " +
        "FROM part ORDER BY p_partkey")),

    Op("fn_date",
      (s, d) => T.t(s, d, "orders").select(
          col("o_orderkey"),
          expr("year(o_orderdate)").as("yr"),
          expr("month(o_orderdate)").as("mo"),
          expr("day(o_orderdate)").as("dy"),
          expr("CAST(date_trunc('month', o_orderdate) AS TIMESTAMP_NTZ)").as("month_start"),
          // DATE results are re-cast to timestamp for the compare: DATE
          // output columns render differently across pandas/duckdb readers.
          expr("CAST(date_add(CAST(o_orderdate AS DATE), 30) AS TIMESTAMP_NTZ)").as("due_date"),
          expr("datediff(DATE '2002-01-01', CAST(o_orderdate AS DATE))").as("days_to_2002"),
          expr("CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP_NTZ)").as("odate"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS yr, " +
        "CAST(month(o_orderdate) AS INTEGER) AS mo, CAST(day(o_orderdate) AS INTEGER) AS dy, " +
        "date_trunc('month', o_orderdate) AS month_start, " +
        "CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS due_date, " +
        "CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002, " +
        "CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS odate FROM orders ORDER BY o_orderkey")),

    Op("fn_math",
      (s, d) => T.t(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          expr("abs(l_discount - 0.05)").as("abs_disc"),
          expr("round(l_extendedprice, 1)").as("price_r1"),
          expr("floor(l_extendedprice)").as("price_floor"),
          expr("ceil(l_quantity)").as("qty_ceil"),
          expr("power(l_quantity, 2)").as("qty_sq"),
          expr("sqrt(l_extendedprice)").as("price_sqrt"),
          expr("round(ln(l_extendedprice), 6)").as("price_ln"),
          expr("round(exp(l_discount), 6)").as("disc_exp"),
          expr("pmod(l_orderkey, 7)").as("okey_mod"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("SELECT l_orderkey, l_linenumber, abs(l_discount - 0.05) AS abs_disc, " +
        "round(l_extendedprice, 1) AS price_r1, " +
        "CAST(floor(l_extendedprice) AS BIGINT) AS price_floor, " +
        "CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil, " +
        "power(l_quantity, 2) AS qty_sq, sqrt(l_extendedprice) AS price_sqrt, " +
        "round(ln(l_extendedprice), 6) AS price_ln, round(exp(l_discount), 6) AS disc_exp, " +
        "l_orderkey % 7 AS okey_mod " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber")),

    Op("fn_array",
      (s, d) => T.t(s, d, "documents").select(
          col("doc_id"),
          expr("size(split(text, ' '))").as("n_toks"),
          expr("array_contains(split(text, ' '), 'data')").as("has_data"),
          expr("array_join(slice(split(text, ' '), 1, 3), '-')").as("first3"),
          expr("array_min(split(text, ' '))").as("min_tok"),
          expr("array_max(split(text, ' '))").as("max_tok"),
          expr("array_join(transform(slice(split(text, ' '), 1, 5), x -> upper(x)), ',')").as("up5"),
          expr("CAST(aggregate(split(text, ' '), 0, (acc, x) -> acc + length(x)) AS INT)").as("tot_len"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_toks, " +
        "list_contains(string_split(text, ' '), 'data') AS has_data, " +
        "array_to_string(list_slice(string_split(text, ' '), 1, 3), '-') AS first3, " +
        "list_min(string_split(text, ' ')) AS min_tok, " +
        "list_max(string_split(text, ' ')) AS max_tok, " +
        "array_to_string(list_transform(list_slice(string_split(text, ' '), 1, 5), x -> upper(x)), ',') AS up5, " +
        "CAST(list_reduce(list_prepend(0, list_transform(string_split(text, ' '), x -> CAST(length(x) AS INTEGER))), (a, b) -> a + b) AS INTEGER) AS tot_len " +
        "FROM documents ORDER BY doc_id")),

    // bitwise family (DuckDB's ^ is power — xor() there, ^ here).
    Op("fn_bitwise",
      (s, d) => T.t(s, d, "orders").select(
          col("o_orderkey"),
          expr("o_orderkey & 255").as("and_lo"),
          expr("o_orderkey | 15").as("or_lo"),
          expr("o_orderkey ^ 90").as("xor_k"),
          expr("shiftleft(o_orderkey, 2)").as("shl2"),
          expr("shiftright(o_orderkey, 3)").as("shr3"),
          expr("bit_count(o_orderkey)").as("popcnt"),
          expr("~o_orderkey").as("inv"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, o_orderkey & 255 AS and_lo, o_orderkey | 15 AS or_lo, " +
        "xor(o_orderkey, 90) AS xor_k, o_orderkey << 2 AS shl2, o_orderkey >> 3 AS shr3, " +
        "CAST(bit_count(o_orderkey) AS INTEGER) AS popcnt, ~o_orderkey AS inv " +
        "FROM orders ORDER BY o_orderkey")),

    Op("fn_map_struct",
      (s, d) => T.t(s, d, "customer")
        .withColumn("st", expr("named_struct('name', c_name, 'bal', c_acctbal)"))
        .select(
          col("c_custkey"),
          col("st.name").as("sname"),
          col("st.bal").as("sbal"),
          expr("st.bal > 1000").as("rich"))
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, struct_pack(name := c_name, bal := c_acctbal).name AS sname, " +
        "struct_pack(name := c_name, bal := c_acctbal).bal AS sbal, " +
        "struct_pack(name := c_name, bal := c_acctbal).bal > 1000 AS rich " +
        "FROM customer ORDER BY c_custkey")),

    Op("fn_json",
      (s, d) => T.events(s, d).select(
          col("event_id"),
          expr("get_json_object(props, '$.k')").as("k_str"),
          expr("CAST(get_json_object(props, '$.k') AS INT)").as("k_int"),
          expr("get_json_object(props, '$.missing') IS NULL").as("no_missing"))
        .orderBy("event_id"),
      Some("SELECT event_id, json_extract_string(props, '$.k') AS k_str, " +
        "CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int, " +
        "json_extract_string(props, '$.missing') IS NULL AS no_missing " +
        "FROM events ORDER BY event_id")),

    // calendar constructors/navigation: make_date, last_day, day-of-year,
    // ISO week, quarter (DATE results cast to TIMESTAMP_NTZ — parity
    // rule 3).
    Op("fn_date_calendar",
      (s, d) => T.t(s, d, "orders")
        .select(col("o_orderkey"),
          expr("CAST(CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS TIMESTAMP_NTZ)").as("month_end"),
          expr("CAST(CAST(make_date(year(o_orderdate), month(o_orderdate), 1) AS TIMESTAMP) AS TIMESTAMP_NTZ)").as("month_start"),
          dayofyear(col("o_orderdate")).cast("int").as("doy"),
          weekofyear(col("o_orderdate")).cast("int").as("iso_week"),
          quarter(col("o_orderdate")).cast("int").as("q"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, " +
        "CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end, " +
        "CAST(make_date(CAST(year(o_orderdate) AS INTEGER), CAST(month(o_orderdate) AS INTEGER), 1) AS TIMESTAMP) AS month_start, " +
        "CAST(dayofyear(o_orderdate) AS INTEGER) AS doy, " +
        "CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week, " +
        "CAST(quarter(o_orderdate) AS INTEGER) AS q " +
        "FROM orders ORDER BY o_orderkey")),

    // printf-style formatting (ints and strings only — float formatting
    // rounds differently between Java's Formatter and C printf).
    Op("fn_format",
      (s, d) => T.t(s, d, "customer")
        .select(col("c_custkey"),
          format_string("%s-%05d", col("c_mktsegment"), col("c_custkey")).as("tag"),
          format_string("[%10s]", col("c_name")).as("padded"),
          concat_ws("/", col("c_mktsegment"), col("c_name")).as("joined"))
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, printf('%s-%05d', c_mktsegment, c_custkey) AS tag, " +
        "printf('[%10s]', c_name) AS padded, " +
        "concat_ws('/', c_mktsegment, c_name) AS joined " +
        "FROM customer ORDER BY c_custkey")),

    // hash family: md5 is the one digest both engines produce identically
    // (lowercase hex over UTF-8); xxhash64/sha2 are Spark-side only.
    Op("fn_hash",
      (s, d) => T.t(s, d, "customer")
        .select(col("c_custkey"),
          md5(col("c_name")).as("h_md5"),
          length(md5(col("c_name"))).cast("int").as("h_len"),
          substring(md5(concat_ws("|", col("c_name"), col("c_mktsegment"))), 1, 8).as("h_compound"))
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, md5(c_name) AS h_md5, " +
        "CAST(length(md5(c_name)) AS INTEGER) AS h_len, " +
        "substr(md5(concat_ws('|', c_name, c_mktsegment)), 1, 8) AS h_compound " +
        "FROM customer ORDER BY c_custkey")),

    // trig family. Inputs are shifted into [0.3, 1.2] so every output is
    // strictly positive — round(double, n) of a tiny NEGATIVE result
    // yields -0.0 in DuckDB but +0.0 in Spark (parity rule 13), so the
    // domain is chosen to keep zero unreachable. 6-dp rounding absorbs
    // any 1-ulp libm drift between java.lang.Math and libm.
    Op("fn_trig",
      (s, d) => T.t(s, d, "lineitem")
        .where("l_orderkey <= 2000")
        .withColumn("x", expr("l_discount + 0.3"))
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("round(sin(x), 6)").as("sin_x"),
          expr("round(cos(x), 6)").as("cos_x"),
          expr("round(tan(x), 6)").as("tan_x"),
          expr("round(asin(x), 6)").as("asin_x"),
          expr("round(atan(x), 6)").as("atan_x"),
          expr("round(atan2(x, 2.0), 6)").as("atan2_x"),
          expr("round(degrees(x), 6)").as("deg_x"),
          expr("round(radians(x), 6)").as("rad_x"),
          expr("round(cot(x), 6)").as("cot_x"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("SELECT l_orderkey, l_linenumber, " +
        "round(sin(x), 6) AS sin_x, round(cos(x), 6) AS cos_x, " +
        "round(tan(x), 6) AS tan_x, round(asin(x), 6) AS asin_x, " +
        "round(atan(x), 6) AS atan_x, round(atan2(x, 2.0), 6) AS atan2_x, " +
        "round(degrees(x), 6) AS deg_x, round(radians(x), 6) AS rad_x, " +
        "round(cot(x), 6) AS cot_x " +
        "FROM (SELECT l_orderkey, l_linenumber, l_discount + 0.3 AS x " +
        "FROM lineitem WHERE l_orderkey <= 2000) " +
        "ORDER BY l_orderkey, l_linenumber")),

    // binary encoding family: base64 / hex over UTF-8 bytes plus a
    // decode round-trip (unbase64 → string). Both engines emit RFC-4648
    // base64 and uppercase hex.
    Op("fn_encode",
      (s, d) => T.t(s, d, "part").select(
          col("p_partkey"),
          base64(col("p_name").cast(BinaryType)).as("b64"),
          hex(col("p_name")).as("hx"),
          unbase64(base64(col("p_name").cast(BinaryType))).cast(StringType).as("rt"),
          length(col("p_name").cast(BinaryType)).cast(IntegerType).as("n_bytes"))
        .orderBy("p_partkey"),
      Some("SELECT p_partkey, base64(encode(p_name)) AS b64, hex(p_name) AS hx, " +
        "decode(from_base64(base64(encode(p_name)))) AS rt, " +
        "CAST(octet_length(encode(p_name)) AS INTEGER) AS n_bytes " +
        "FROM part ORDER BY p_partkey")),

    // second array family: flatten / position / remove / overlap /
    // repeat — built over a deterministic per-part token array. Array
    // results are rendered as '|'-joined strings: the driver's compare
    // canonicalizes rows with a pandas sort, which cannot hash raw
    // list/ndarray cells (CORRECTNESS_r02 fn_array_extra checker crash).
    Op("fn_array_extra",
      (s, d) => T.t(s, d, "part")
        .withColumn("toks", split(col("p_type"), " "))
        .select(
          col("p_partkey"),
          array_join(flatten(array(col("toks"), array(col("p_brand")))), "|").as("flat"),
          expr("CAST(array_position(toks, 'BRUSHED') AS BIGINT)").as("pos_brushed"),
          expr("array_join(array_remove(toks, 'ANODIZED'), '|')").as("no_anodized"),
          expr("arrays_overlap(toks, array('STEEL', 'COPPER'))").as("has_metal"),
          expr("array_join(array_repeat(p_brand, 2), '|')").as("brand2"))
        .orderBy("p_partkey"),
      Some("SELECT p_partkey, array_to_string(flatten([toks, [p_brand]]), '|') AS flat, " +
        // Spark's array_position yields 0 when absent, DuckDB NULL
        "COALESCE(CAST(list_position(toks, 'BRUSHED') AS BIGINT), 0) AS pos_brushed, " +
        "array_to_string(list_filter(toks, x -> x <> 'ANODIZED'), '|') AS no_anodized, " +
        "len(list_intersect(toks, ['STEEL', 'COPPER'])) > 0 AS has_metal, " +
        "array_to_string([p_brand, p_brand], '|') AS brand2 " +
        "FROM (SELECT p_partkey, p_brand, string_split(p_type, ' ') AS toks FROM part) " +
        "ORDER BY p_partkey")),

    // conditional family: greatest/least/ifnull/nullif-guarded division
    // (try_divide semantics) over order amounts.
    Op("fn_conditional",
      (s, d) => T.t(s, d, "orders").select(
          col("o_orderkey"),
          greatest(col("o_totalprice"), lit(250000.0)).as("hi"),
          least(col("o_totalprice"), lit(250000.0)).as("lo"),
          expr("ifnull(nullif(o_orderstatus, 'O'), 'open')").as("status_or_open"),
          expr("try_divide(o_totalprice, CAST(o_orderkey % 3 AS DOUBLE))").as("risky_div"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, greatest(o_totalprice, 250000.0) AS hi, " +
        "least(o_totalprice, 250000.0) AS lo, " +
        "ifnull(nullif(o_orderstatus, 'O'), 'open') AS status_or_open, " +
        "o_totalprice / nullif(CAST(o_orderkey % 3 AS DOUBLE), 0.0) AS risky_div " +
        "FROM orders ORDER BY o_orderkey")),

    // second string family: translate/repeat/reverse/left/right/locate/
    // initcap (DuckDB 1.0 lacks initcap — the oracle rebuilds it from
    // per-word upper+substr, independent implementations of the same
    // spec).
    Op("fn_string_extra",
      (s, d) => T.t(s, d, "customer").select(
          col("c_custkey"),
          translate(col("c_name"), "aeiou", "AEIOU").as("tr"),
          expr("repeat(c_mktsegment, 2)").as("rep"),
          reverse(col("c_name")).as("rev"),
          expr("left(c_name, 4)").as("l4"),
          expr("right(c_name, 4)").as("r4"),
          expr("CAST(locate('1', c_name) AS BIGINT)").as("pos1"),
          initcap(lower(col("c_mktsegment"))).as("cap"))
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, translate(c_name, 'aeiou', 'AEIOU') AS tr, " +
        "repeat(c_mktsegment, 2) AS rep, reverse(c_name) AS rev, " +
        "left(c_name, 4) AS l4, right(c_name, 4) AS r4, " +
        "CAST(position('1' IN c_name) AS BIGINT) AS pos1, " +
        "array_to_string(list_transform(string_split(lower(c_mktsegment), ' '), " +
        "w -> concat(upper(substr(w, 1, 1)), substr(w, 2))), ' ') AS cap " +
        "FROM customer ORDER BY c_custkey")),

    // URL parsing: documents get a deterministic synthetic URL, Spark
    // dissects it with parse_url (HOST / PATH / QUERY / single query
    // param); the oracle re-derives the same pieces with POSIX regexes —
    // independent implementations of the same spec.
    Op("fn_url",
      (s, d) => T.t(s, d, "documents")
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.com/d/"), col("doc_id"), lit("?lang="), col("lang"), lit("&v=2")))
        .select(col("doc_id"), col("url"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY')").as("query"),
          expr("parse_url(url, 'QUERY', 'lang')").as("q_lang"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, url, regexp_extract(url, 'https://([^/]+)', 1) AS host, " +
        "regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path, " +
        "regexp_extract(url, '\\?(.*)$', 1) AS query, " +
        "regexp_extract(url, '[?&]lang=([^&]*)', 1) AS q_lang " +
        "FROM (SELECT doc_id, concat('https://', source, '.example.com/d/', doc_id, " +
        "'?lang=', lang, '&v=2') AS url FROM documents) ORDER BY doc_id")),

    // Regex family extension: extract-all, global replace, split_part,
    // regexp_like. Array results render as joined strings (driver's
    // checker cannot hash raw list cells).
    Op("fn_regex_extra",
      (s, d) => T.t(s, d, "part").select(
          col("p_partkey"),
          expr("array_join(regexp_extract_all(p_name, '[a-z]+', 0), '|')").as("words"),
          expr("CAST(size(regexp_extract_all(p_name, '[a-z]+', 0)) AS INT)").as("n_words"),
          expr("regexp_replace(p_name, '[aeiou]', '*')").as("starred"),
          expr("split_part(p_type, ' ', 2)").as("type_mid"),
          expr("regexp_like(p_name, '^[a-z]')").as("starts_lower"))
        .orderBy("p_partkey"),
      Some("SELECT p_partkey, " +
        "array_to_string(regexp_extract_all(p_name, '[a-z]+'), '|') AS words, " +
        "CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS INTEGER) AS n_words, " +
        "regexp_replace(p_name, '[aeiou]', '*', 'g') AS starred, " +
        "split_part(p_type, ' ', 2) AS type_mid, " +
        "regexp_matches(p_name, '^[a-z]') AS starts_lower " +
        "FROM part ORDER BY p_partkey")),

    // Edit distance between consecutive part names within a brand (lag
    // window gives bounded deterministic pairs without a self-join).
    Op("fn_levenshtein",
      (s, d) => {
        val w = Window.partitionBy("p_brand").orderBy("p_partkey")
        T.t(s, d, "part")
          .withColumn("prev_name", lag("p_name", 1).over(w))
          .where(col("prev_name").isNotNull)
          .select(col("p_partkey"), col("p_brand"),
            expr("CAST(levenshtein(p_name, prev_name) AS INT)").as("lev"),
            expr("CAST(levenshtein(substring(p_name, 1, 10), substring(prev_name, 1, 10)) AS INT)").as("lev10"))
          .orderBy("p_partkey")
      },
      Some("SELECT p_partkey, p_brand, " +
        "CAST(levenshtein(p_name, prev_name) AS INTEGER) AS lev, " +
        "CAST(levenshtein(substring(p_name, 1, 10), substring(prev_name, 1, 10)) AS INTEGER) AS lev10 " +
        "FROM (SELECT p_partkey, p_brand, p_name, " +
        "lag(p_name, 1) OVER (PARTITION BY p_brand ORDER BY p_partkey) AS prev_name FROM part) " +
        "WHERE prev_name IS NOT NULL ORDER BY p_partkey")),

    // INTERVAL arithmetic family over TIMESTAMP_NTZ order dates (all
    // midnight-aligned, so boundary-counting date_diff and complete-unit
    // timestampdiff agree; month addition clamps to month end in both).
    Op("fn_interval",
      (s, d) => T.t(s, d, "orders").select(
          col("o_orderkey"),
          expr("CAST(o_orderdate + INTERVAL 3 DAY AS TIMESTAMP_NTZ)").as("plus3d"),
          expr("CAST(o_orderdate - INTERVAL 90 MINUTE AS TIMESTAMP_NTZ)").as("minus90m"),
          expr("CAST(o_orderdate + INTERVAL 2 HOUR + INTERVAL 45 SECOND AS TIMESTAMP_NTZ)").as("plus2h45s"),
          expr("CAST(o_orderdate + INTERVAL 2 MONTH AS TIMESTAMP_NTZ)").as("plus2mo"),
          expr("timestampdiff(HOUR, o_orderdate, TIMESTAMP_NTZ '2002-01-01 00:00:00')").as("hours_to_2002"),
          expr("timestampdiff(DAY, o_orderdate, TIMESTAMP_NTZ '2002-01-01 00:00:00')").as("days_left"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, o_orderdate + INTERVAL 3 DAY AS plus3d, " +
        "o_orderdate - INTERVAL 90 MINUTE AS minus90m, " +
        "o_orderdate + INTERVAL 2 HOUR + INTERVAL 45 SECOND AS plus2h45s, " +
        "o_orderdate + INTERVAL 2 MONTH AS plus2mo, " +
        "date_diff('hour', o_orderdate, TIMESTAMP '2002-01-01') AS hours_to_2002, " +
        "date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS days_left " +
        "FROM orders ORDER BY o_orderkey")),

    // Character-code family: ascii / chr round-trips.
    Op("fn_char",
      (s, d) => T.t(s, d, "customer").select(
          col("c_custkey"),
          expr("ascii(c_name)").as("a_first"),
          expr("ascii(substring(c_mktsegment, 2, 1))").as("a_second"),
          expr("chr(65 + c_nationkey % 26)").as("letter"),
          expr("concat(chr(ascii(c_mktsegment)), lower(substring(c_mktsegment, 2)))").as("recased"))
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, CAST(ascii(c_name) AS INTEGER) AS a_first, " +
        "CAST(ascii(substring(c_mktsegment, 2, 1)) AS INTEGER) AS a_second, " +
        "chr(65 + c_nationkey % 26) AS letter, " +
        "concat(chr(ascii(c_mktsegment)), lower(substring(c_mktsegment, 2))) AS recased " +
        "FROM customer ORDER BY c_custkey")),

    // Spark 4 VariantType path through semi-structured data: parse_json
    // into a Variant and extract typed fields with variant_get — the
    // binary-encoded, shreddable successor to string-walking
    // get_json_object (fn_json keeps the classic path for contrast).
    // Null props flow through as null variants.
    Op("fn_variant",
      (s, d) => T.events(s, d).select(
          col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k_int"),
          expr("variant_get(parse_json(props), '$.k', 'int') * 2").as("k_doubled"),
          expr("variant_get(parse_json(props), '$.k', 'int') IS NOT NULL").as("has_k"))
        .orderBy("event_id"),
      Some("SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int, " +
        "CAST(json_extract_string(props, '$.k') AS INTEGER) * 2 AS k_doubled, " +
        "CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL AS has_k " +
        "FROM events ORDER BY event_id")),

    // Error-safe TRY functions (the ANSI-mode companions): try_cast on
    // strings that may not parse, try_divide by zero, try_to_number with
    // a format. Under ANSI semantics the plain forms would throw; the
    // TRY forms degrade to NULL identically in both engines.
    Op("fn_try",
      (s, d) => T.t(s, d, "part").select(
          col("p_partkey"),
          expr("try_cast(substring(p_name, 1, 2) AS INT)").as("head_int"),
          expr("try_cast(p_brand AS DOUBLE)").as("brand_num"),
          expr("try_divide(p_retailprice, p_size - p_size)").as("div0"),
          expr("try_divide(p_retailprice, CAST(p_size AS DOUBLE))").as("per_size"),
          expr("CAST(try_cast(CASE WHEN p_partkey % 2 = 0 THEN '2024-01-15' " +
            "ELSE 'not-a-date' END AS DATE) AS STRING)").as("maybe_date"))
        .orderBy("p_partkey"),
      Some("SELECT p_partkey, " +
        "TRY_CAST(substring(p_name, 1, 2) AS INTEGER) AS head_int, " +
        "TRY_CAST(p_brand AS DOUBLE) AS brand_num, " +
        "CASE WHEN p_size - p_size = 0 THEN NULL ELSE p_retailprice / (p_size - p_size) END AS div0, " +
        "p_retailprice / CAST(p_size AS DOUBLE) AS per_size, " +
        "CAST(TRY_CAST(CASE WHEN p_partkey % 2 = 0 THEN '2024-01-15' ELSE 'not-a-date' END AS DATE) AS VARCHAR) AS maybe_date " +
        "FROM part ORDER BY p_partkey")),

    // Predicate/combining higher-order functions over array columns —
    // exists / forall / filter-count / zip_with+aggregate fold — the
    // part of the HOF suite fn_array doesn't exercise. All stay inside
    // whole-stage codegen; the fold lands in an epsilon-guarded fixed
    // point so the sequential double accumulation compares exactly.
    Op("fn_hof_predicates",
      (s, d) => T.spread(T.t(s, d, "embeddings")).select(
          col("vec_id"),
          expr("exists(embedding, x -> x > 0.9D)").as("any_hot"),
          expr("forall(embedding, x -> x >= -1.0D)").as("all_bounded"),
          expr("CAST(size(filter(embedding, x -> x < 0D)) AS INT)").as("n_neg"),
          expr("CAST(floor(aggregate(zip_with(embedding, reverse(embedding), " +
            "(a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), CAST(0 AS DOUBLE), " +
            "(acc, v) -> acc + v) * 10000 + 0.000001) AS BIGINT)").as("dotrev_fp"))
        .orderBy("vec_id"),
      Some("SELECT vec_id, " +
        "len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.9)) > 0 AS any_hot, " +
        "len(list_filter(embedding, x -> NOT (CAST(x AS DOUBLE) >= -1.0))) = 0 AS all_bounded, " +
        "CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) < 0)) AS INTEGER) AS n_neg, " +
        "CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(range(len(embedding)), i -> " +
        "CAST(embedding[i + 1] AS DOUBLE) * CAST(embedding[len(embedding) - i] AS DOUBLE))), " +
        "(a, v) -> a + v) * 10000 + 0.000001) AS BIGINT) AS dotrev_fp " +
        "FROM embeddings ORDER BY vec_id"))
  )
}
