package perfbench

/**
 * The benchmark's job configs, written the way users write them: JSON
 * with declared port schemas on every edge. The shapes follow the
 * reference's e2e corpus (source format x operator x sink format) and the
 * gate suite's declarative q_job_* configs.
 */
object Jobs {

  private def fields(fs: (String, String)*): String =
    fs.map { case (n, t) => s"""{ "name": "$n", "data_type": "$t", "nullable": true }""" }
      .mkString("""{ "fields": [ """, ", ", " ] }")

  private def job(name: String, components: String*): String =
    s"""{ "name": "$name", "num_of_retries": 1, "strategy_type": "bulk",
       |  "components": [
       |    ${components.mkString(",\n    ")}
       |  ] }""".stripMargin

  private def route(to: String, port: String = "in") = s"""[ { "to": "$to", "in_port": "$port" } ]"""

  // ------------------------------------------------------------ curation

  private val docs = fields("doc_id" -> "integer", "text" -> "string")

  /** read_parquet -> text_normalize -> gopher_filter -> dedup (minhash,
    * transitive clusters) -> write_parquet. */
  def curation(in: String, out: String): String = job("curation",
    s"""{ "name": "rd", "comp_type": "read_parquet", "filepath": "$in/documents.parquet",
       |  "routes": { "out": ${route("tn")} }, "out_port_schemas": { "out": $docs } }""".stripMargin,
    s"""{ "name": "tn", "comp_type": "text_normalize", "text_column": "text",
       |  "in_port_schemas": { "in": $docs }, "routes": { "out": ${route("gf")} },
       |  "out_port_schemas": { "out": $docs } }""".stripMargin,
    s"""{ "name": "gf", "comp_type": "gopher_filter", "text_column": "text",
       |  "in_port_schemas": { "in": $docs }, "routes": { "out": ${route("dd")} },
       |  "out_port_schemas": { "out": $docs } }""".stripMargin,
    s"""{ "name": "dd", "comp_type": "dedup", "method": "minhash", "emit": "cluster",
       |  "text_column": "text", "id_column": "doc_id", "shingle_n": 5,
       |  "num_hashes": 32, "bands": 16, "threshold": 0.6,
       |  "in_port_schemas": { "in": $docs }, "routes": { "out": ${route("w")} },
       |  "out_port_schemas": { "out": $docs } }""".stripMargin,
    s"""{ "name": "w", "comp_type": "write_parquet", "filepath": "$out/curated",
       |  "in_port_schemas": { "in": $docs } }""".stripMargin)

  // ---------------------------------------------------------- small_jobs

  /** The small_jobs shapes by name; `out` is the job's own output root. */
  def small(shape: String, in: String, out: String, jdbcUrl: String,
            table: String): String = shape match {
    case "csv_filter" =>
      val s = fields("id" -> "string", "qty" -> "string", "flag" -> "string")
      val t = fields("id" -> "integer", "qty" -> "integer", "flag" -> "string")
      job("csv_filter",
        s"""{ "name": "r", "comp_type": "read_csv", "filepath": "$in/csv_filter.csv",
           |  "routes": { "out": ${route("conv")} }, "out_port_schemas": { "out": $s } }""".stripMargin,
        s"""{ "name": "conv", "comp_type": "type_conversion", "rules": [
           |  { "column_path": "id", "target": "integer", "on_error": "raise" },
           |  { "column_path": "qty", "target": "integer", "on_error": "raise" } ],
           |  "in_port_schemas": { "in": $s }, "routes": { "out": ${route("flt")} },
           |  "out_port_schemas": { "out": $t } }""".stripMargin,
        s"""{ "name": "flt", "comp_type": "filter",
           |  "rule": { "logical_operator": "AND", "rules": [
           |    { "column": "qty", "operator": "<=", "value": 25 },
           |    { "logical_operator": "NOT", "rules": [
           |      { "column": "flag", "operator": "==", "value": "A" } ] } ] },
           |  "in_port_schemas": { "in": $t }, "routes": { "pass": ${route("w")} },
           |  "out_port_schemas": { "pass": $t } }""".stripMargin,
        s"""{ "name": "w", "comp_type": "write_csv", "filepath": "$out/csv_filter",
           |  "single_file": false, "in_port_schemas": { "in": $t } }""".stripMargin)

    case "join_agg" =>
      val c = fields("c_custkey" -> "integer", "c_segment" -> "string")
      val o = fields("o_orderkey" -> "integer", "o_custkey" -> "integer",
        "o_totalcents" -> "integer")
      val m = fields("segment" -> "string", "cents" -> "integer")
      val a = fields("segment" -> "string", "n_orders" -> "integer",
        "sum_cents" -> "integer")
      job("join_agg",
        s"""{ "name": "cust", "comp_type": "read_parquet", "filepath": "$in/customers.parquet",
           |  "routes": { "out": ${route("sm", "customer")} }, "out_port_schemas": { "out": $c } }""".stripMargin,
        s"""{ "name": "ord", "comp_type": "read_parquet", "filepath": "$in/orders.parquet",
           |  "routes": { "out": ${route("sm", "orders")} }, "out_port_schemas": { "out": $o } }""".stripMargin,
        s"""{ "name": "sm", "comp_type": "schema_mapping",
           |  "join_plan": { "steps": [
           |    { "left_port": "orders", "right_port": "customer",
           |      "left_on": ["o_custkey"], "right_on": ["c_custkey"],
           |      "how": "inner", "output_port": "joined" } ] },
           |  "rules_by_dest": { "out": {
           |    "segment": { "src_port": "joined", "src_path": "c_segment" },
           |    "cents": { "src_port": "joined", "src_path": "o_totalcents" } } },
           |  "in_port_schemas": { "customer": $c, "orders": $o },
           |  "routes": { "out": ${route("agg")} }, "out_port_schemas": { "out": $m } }""".stripMargin,
        s"""{ "name": "agg", "comp_type": "aggregation", "group_by": ["segment"],
           |  "aggregations": [ { "src": "*", "op": "count", "dest": "n_orders" },
           |    { "src": "cents", "op": "sum", "dest": "sum_cents" } ],
           |  "in_port_schemas": { "in": $m }, "routes": { "out": ${route("w")} },
           |  "out_port_schemas": { "out": $a } }""".stripMargin,
        s"""{ "name": "w", "comp_type": "write_parquet", "filepath": "$out/join_agg",
           |  "in_port_schemas": { "in": $a } }""".stripMargin)

    case "split_merge" =>
      val s = fields("o_orderkey" -> "string", "o_status" -> "string")
      val a = fields("o_status" -> "string", "n_orders" -> "integer")
      def flt(name: String, v: String) =
        s"""{ "name": "$name", "comp_type": "filter",
           |  "rule": { "column": "o_status", "operator": "==", "value": "$v" },
           |  "in_port_schemas": { "in": $s }, "routes": { "pass": ${route("m")} },
           |  "out_port_schemas": { "pass": $s } }""".stripMargin
      job("split_merge",
        s"""{ "name": "r", "comp_type": "read_csv", "filepath": "$in/split_merge.csv",
           |  "routes": { "out": ${route("sp")} }, "out_port_schemas": { "out": $s } }""".stripMargin,
        s"""{ "name": "sp", "comp_type": "split", "extra_output_ports": ["a", "b"],
           |  "in_port_schemas": { "in": $s },
           |  "routes": { "a": ${route("fa")}, "b": ${route("fb")} },
           |  "out_port_schemas": { "a": $s, "b": $s } }""".stripMargin,
        flt("fa", "F"), flt("fb", "O"),
        s"""{ "name": "m", "comp_type": "merge", "in_port_schemas": { "in": $s },
           |  "routes": { "merge": ${route("agg")} }, "out_port_schemas": { "merge": $s } }""".stripMargin,
        s"""{ "name": "agg", "comp_type": "aggregation", "group_by": ["o_status"],
           |  "aggregations": [ { "src": "o_orderkey", "op": "count", "dest": "n_orders" } ],
           |  "in_port_schemas": { "in": $s }, "routes": { "out": ${route("w")} },
           |  "out_port_schemas": { "out": $a } }""".stripMargin,
        s"""{ "name": "w", "comp_type": "write_parquet", "filepath": "$out/split_merge",
           |  "in_port_schemas": { "in": $a } }""".stripMargin)

    case "xml_agg" =>
      val s = fields("k" -> "string", "g" -> "string")
      val t = fields("k" -> "integer", "g" -> "integer")
      val a = fields("g" -> "integer", "n_recs" -> "integer", "sum_k" -> "integer")
      job("xml_agg",
        s"""{ "name": "r", "comp_type": "read_xml", "filepath": "$in/records.xml",
           |  "record_tag": "rec", "routes": { "out": ${route("conv")} },
           |  "out_port_schemas": { "out": $s } }""".stripMargin,
        s"""{ "name": "conv", "comp_type": "type_conversion", "rules": [
           |  { "column_path": "k", "target": "integer", "on_error": "raise" },
           |  { "column_path": "g", "target": "integer", "on_error": "raise" } ],
           |  "in_port_schemas": { "in": $s }, "routes": { "out": ${route("agg")} } }""".stripMargin,
        s"""{ "name": "agg", "comp_type": "aggregation", "group_by": ["g"],
           |  "aggregations": [ { "src": "k", "op": "count", "dest": "n_recs" },
           |    { "src": "k", "op": "sum", "dest": "sum_k" } ],
           |  "in_port_schemas": { "in": $t }, "routes": { "out": ${route("w")} },
           |  "out_port_schemas": { "out": $a } }""".stripMargin,
        s"""{ "name": "w", "comp_type": "write_parquet", "filepath": "$out/xml_agg",
           |  "in_port_schemas": { "in": $a } }""".stripMargin)

    case "excel_agg" =>
      val s = fields("c_custkey" -> "string", "c_segment" -> "string",
        "c_nationkey" -> "string")
      val t = fields("c_custkey" -> "integer", "c_segment" -> "string",
        "c_nationkey" -> "integer")
      val a = fields("c_nationkey" -> "integer", "n_custs" -> "integer",
        "min_cust" -> "integer")
      job("excel_agg",
        s"""{ "name": "r", "comp_type": "read_excel", "filepath": "$in/customers.xlsx",
           |  "sheet_name": "customers", "routes": { "out": ${route("conv")} },
           |  "out_port_schemas": { "out": $s } }""".stripMargin,
        s"""{ "name": "conv", "comp_type": "type_conversion", "rules": [
           |  { "column_path": "c_custkey", "target": "integer", "on_error": "raise" },
           |  { "column_path": "c_nationkey", "target": "integer", "on_error": "raise" } ],
           |  "in_port_schemas": { "in": $s }, "routes": { "out": ${route("flt")} } }""".stripMargin,
        s"""{ "name": "flt", "comp_type": "filter",
           |  "rule": { "column": "c_segment", "operator": "==", "value": "BUILDING" },
           |  "in_port_schemas": { "in": $t }, "routes": { "pass": ${route("agg")} },
           |  "out_port_schemas": { "pass": $t } }""".stripMargin,
        s"""{ "name": "agg", "comp_type": "aggregation", "group_by": ["c_nationkey"],
           |  "aggregations": [ { "src": "c_custkey", "op": "count", "dest": "n_custs" },
           |    { "src": "c_custkey", "op": "min", "dest": "min_cust" } ],
           |  "in_port_schemas": { "in": $t }, "routes": { "out": ${route("w")} },
           |  "out_port_schemas": { "out": $a } }""".stripMargin,
        s"""{ "name": "w", "comp_type": "write_parquet", "filepath": "$out/excel_agg",
           |  "in_port_schemas": { "in": $a } }""".stripMargin)

    case "ndjson_tc" =>
      val s = fields("id" -> "string", "amount" -> "string", "maybe_int" -> "string")
      val t = fields("id" -> "integer", "amount" -> "integer", "maybe_int" -> "integer")
      job("ndjson_tc",
        s"""{ "name": "r", "comp_type": "read_json", "filepath": "$in/ndjson_tc.jsonl",
           |  "routes": { "out": ${route("conv")} }, "out_port_schemas": { "out": $s } }""".stripMargin,
        s"""{ "name": "conv", "comp_type": "type_conversion", "rules": [
           |  { "column_path": "id", "target": "integer", "on_error": "raise" },
           |  { "column_path": "amount", "target": "integer", "on_error": "raise" },
           |  { "column_path": "maybe_int", "target": "integer", "on_error": "null" } ],
           |  "in_port_schemas": { "in": $s }, "routes": { "out": ${route("w")} },
           |  "out_port_schemas": { "out": $t } }""".stripMargin,
        s"""{ "name": "w", "comp_type": "write_json", "filepath": "$out/ndjson_tc",
           |  "in_port_schemas": { "in": $t } }""".stripMargin)

    case "window" =>
      val s = fields("user_id" -> "integer", "ts" -> "integer", "value" -> "integer")
      val t = fields("user_id" -> "integer", "ts" -> "integer", "value" -> "integer",
        "rn" -> "integer", "prev_value" -> "integer")
      job("window",
        s"""{ "name": "r", "comp_type": "read_parquet", "filepath": "$in/events.parquet",
           |  "routes": { "out": ${route("win")} }, "out_port_schemas": { "out": $s } }""".stripMargin,
        s"""{ "name": "win", "comp_type": "window", "partition_by": ["user_id"],
           |  "order_by": [["ts", 1]],
           |  "functions": [ { "fn": "row_number", "dest": "rn" },
           |    { "fn": "lag", "src": "value", "offset": 1, "dest": "prev_value" } ],
           |  "in_port_schemas": { "in": $s }, "routes": { "out": ${route("w")} },
           |  "out_port_schemas": { "out": $t } }""".stripMargin,
        s"""{ "name": "w", "comp_type": "write_parquet", "filepath": "$out/window",
           |  "in_port_schemas": { "in": $t } }""".stripMargin)

    case "jdbc_upsert" =>
      val s = fields("k" -> "string", "v" -> "string")
      job(s"jdbc_upsert_$table",
        s"""{ "name": "r", "comp_type": "read_parquet", "filepath": "$in/kv.parquet",
           |  "routes": { "out": ${route("w")} }, "out_port_schemas": { "out": $s } }""".stripMargin,
        s"""{ "name": "w", "comp_type": "write_jdbc", "url": "$jdbcUrl",
           |  "entity_name": "$table", "dialect": "derby", "if_exists": "upsert",
           |  "key_fields": ["k"], "in_port_schemas": { "in": $s } }""".stripMargin)
  }
}
