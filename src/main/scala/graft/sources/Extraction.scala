package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Semi-structured extraction — the reference's extraction layer
  * re-expressed as columnar parsers:
  *
  *  - ABR XML field extraction with multi-path fallbacks
  *    (extract_abr_xml.py:44-117 get_entity_name / get_address /
  *    extract_with_fallback);
  *  - Common-Crawl HTML company-name extraction with the
  *    og:site_name → JSON-LD → title fallback chain
  *    (extract_common_crawl.py extract_company_info).
  *
  * The testdata has no raw XML/HTML, so each query synthesizes the
  * markup deterministically from table columns, then parses it back —
  * the parse logic is the operator under test, and it is pure
  * regexp_extract column math (codegen'd, partition-parallel, no
  * driver involvement — unlike the reference's ElementTree loop).
  */
object Extraction {

  /** Deterministic ABR-style XML per customer; 1/4 of rows use the
    * person-name variant and 1/5 carry their address under
    * MainBusinessPhysicalAddress instead of BusinessAddress, so both
    * fallback chains (extract_abr_xml.py:44-77) have traffic.
    */
  private def synthXml: Column = {
    val abn = format_string("%011d", col("c_custkey"))
    val status = when(col("c_custkey") % 3 === 0, "ACT").otherwise("CAN")
    val statusDate = format_string("2020%02d%02d",
      col("c_custkey") % 12 + 1, col("c_custkey") % 28 + 1)
    val orgName = concat(lit("<MainEntity><NonIndividualName><NonIndividualNameText>"),
      col("c_name"), lit("</NonIndividualNameText></NonIndividualName></MainEntity>"))
    val personName = concat(lit("<LegalEntity><IndividualName><GivenName>Given"),
      col("c_custkey"), lit("</GivenName><FamilyName>Family"),
      col("c_nationkey"), lit("</FamilyName></IndividualName></LegalEntity>"))
    val addrDetails = concat(
      lit("<AddressDetails><State>S"), col("c_nationkey"),
      lit("</State><Postcode>"),
      format_string("%04d", col("c_nationkey") * 100 + col("c_custkey") % 100),
      lit("</Postcode></AddressDetails>"))
    concat(
      lit("<ABR><ABN status=\""), status,
      lit("\" ABNStatusFromDate=\""), statusDate, lit("\">"), abn, lit("</ABN>"),
      lit("<EntityType><EntityTypeText>"), col("c_mktsegment"),
      lit("</EntityTypeText></EntityType>"),
      when(col("c_custkey") % 4 === 0, personName).otherwise(orgName),
      when(col("c_custkey") % 5 === 0,
        concat(lit("<MainBusinessPhysicalAddress>"), addrDetails,
          lit("</MainBusinessPhysicalAddress>")))
        .otherwise(concat(lit("<BusinessAddress>"), addrDetails,
          lit("</BusinessAddress>"))),
      lit("</ABR>"))
  }

  /** Parse ABR XML documents (one per row in `xml`) with the
    * reference's fallback chains: org name first, else given+family
    * composition (extract_abr_xml.py:44-57); BusinessAddress first,
    * else MainBusinessPhysicalAddress (:59-77); ABNStatusFromDate as
    * start_date (:80). Pure regexp column math — codegen'd and
    * partition-parallel, unlike the reference's ElementTree loop.
    */
  def parseXmlEntities(xml: DataFrame): DataFrame = {
    val org = regexp_extract(col("xml"),
      "<NonIndividualNameText>([^<]*)</NonIndividualNameText>", 1)
    val givenName = regexp_extract(col("xml"), "<GivenName>([^<]*)</GivenName>", 1)
    val family = regexp_extract(col("xml"), "<FamilyName>([^<]*)</FamilyName>", 1)
    val baState = regexp_extract(col("xml"),
      "<BusinessAddress><AddressDetails><State>([^<]*)</State>", 1)
    val mbState = regexp_extract(col("xml"),
      "<MainBusinessPhysicalAddress><AddressDetails><State>([^<]*)</State>", 1)
    val baPost = regexp_extract(col("xml"),
      "<BusinessAddress><AddressDetails><State>[^<]*</State><Postcode>([0-9]+)", 1)
    val mbPost = regexp_extract(col("xml"),
      "<MainBusinessPhysicalAddress><AddressDetails><State>[^<]*</State><Postcode>([0-9]+)", 1)
    xml.select(
      regexp_extract(col("xml"), "<ABN[^>]*>([0-9]+)</ABN>", 1).as("abn"),
      when(org =!= "", org).otherwise(trim(concat(givenName, lit(" "), family)))
        .as("entity_name"),
      regexp_extract(col("xml"), "<ABN status=\"([A-Z]+)\"", 1).as("entity_status"),
      regexp_extract(col("xml"), "ABNStatusFromDate=\"([0-9]+)\"", 1).as("start_date"),
      regexp_extract(col("xml"), "<EntityTypeText>([^<]*)</EntityTypeText>", 1)
        .as("entity_type"),
      when(baState =!= "", baState).otherwise(mbState).as("state"),
      when(baPost =!= "", baPost).otherwise(mbPost).as("postcode"))
      .orderBy("abn")
  }

  /** Registered query: synthesize the markup from table columns, then
    * parse it back (testdata ships no raw XML).
    */
  def extractXmlEntities(spark: SparkSession, dir: String): DataFrame =
    parseXmlEntities(Tables.customer(spark, dir).select(synthXml.as("xml")))

  /** Deterministic CC-style HTML per part; thirds of the corpus carry
    * the name in og:site_name, JSON-LD, or only <title>.
    */
  private def synthHtml: Column = {
    val og = concat(lit("<meta property=\"og:site_name\" content=\""),
      col("p_name"), lit(" Co\"/>"))
    val ld = concat(lit("<script type=\"application/ld+json\">{\"@type\": \"Organization\", \"name\": \""),
      col("p_name"), lit(" Org\"}</script>"))
    concat(
      lit("<html><head><title>"), col("p_name"), lit(" | Home</title>"),
      when(col("p_partkey") % 3 === 0, og)
        .when(col("p_partkey") % 3 === 1, ld)
        .otherwise(lit("")),
      lit("</head><body>"), col("p_type"), lit("</body></html>"))
  }

  /** Synthesized WARC response record per supplier (header block +
    * blank line + payload — the record shape warcio iterates in
    * extract_common_crawl.py fetch_html_from_warc).
    */
  private def synthWarc: Column =
    concat(
      lit("WARC/1.0\n"),
      lit("WARC-Type: response\n"),
      lit("WARC-Target-URI: https://www."),
      regexp_replace(lower(col("s_name")), "[^a-z0-9]+", "-"),
      lit(".example.com/\n"),
      lit("WARC-Record-ID: rec-"), col("s_suppkey"), lit("\n"),
      lit("Content-Length: "), octet_length(col("s_name")) * 3, lit("\n"),
      lit("\n"),
      lit("<html><head><title>"), col("s_name"),
      lit(" | Site</title></head><body>acct "), col("s_acctbal"),
      lit("</body></html>"))

  /** WARC record parsing: split headers from payload, type/URI/id/
    * length fields, then the payload's title — the columnar form of
    * the reference's ArchiveIterator + BeautifulSoup pass.
    */
  def parseWarcRecords(recs: DataFrame): DataFrame =
    recs.select(
      regexp_extract(col("rec"), "WARC-Type: ([^\\n]+)", 1).as("warc_type"),
      regexp_extract(col("rec"), "WARC-Target-URI: ([^\\n]+)", 1).as("target_uri"),
      regexp_extract(col("rec"), "WARC-Record-ID: ([^\\n]+)", 1).as("record_id"),
      regexp_extract(col("rec"), "Content-Length: ([0-9]+)", 1).cast("int").as("content_length"),
      trim(regexp_extract(col("rec"), "<title>([^|<]*)", 1)).as("page_title"))
      .orderBy("target_uri")

  def extractWarcRecords(spark: SparkSession, dir: String): DataFrame =
    parseWarcRecords(Tables.supplier(spark, dir).select(synthWarc.as("rec")))

  /** og:site_name → JSON-LD Organization name → title fallback chain
    * (extract_common_crawl.py extract_company_info steps 1-3), with
    * the method that won recorded per row.
    */
  /** Boilerplate-stripped main-content extraction (the
    * trafilatura-style step between extract_common_crawl.py's raw
    * HTML fetch and any text quality scoring): script / nav / footer
    * blocks removed, remaining tags stripped, whitespace collapsed —
    * plus the content ratio (clean/raw chars), the signal readability
    * extractors threshold on. Pure chained codegen regexes, zero
    * shuffles, linear in corpus bytes.
    */
  def cleanHtmlBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val page = concat(
      lit("<html><head><title>"), col("p_name"),
      lit("</title><script>var t=track('"), col("p_brand"),
      lit("');</script></head><body><nav>Home About Contact Pricing</nav>"),
      lit("<p>"), col("p_type"), lit(" from "), col("p_name"), lit(".</p>"),
      when(col("p_partkey") % 2 === 0,
        concat(lit("<p>Extra detail on "), col("p_brand"), lit(".</p>")))
        .otherwise(lit("")),
      lit("<footer>Copyright "), col("p_name"), lit("</footer></body></html>"))
    val raw = Tables.part(spark, dir).select(col("p_partkey"), page.as("html"))
    val noBlocks = regexp_replace(regexp_replace(regexp_replace(col("html"),
      "<script>.*?</script>", ""),
      "<nav>.*?</nav>", ""),
      "<footer>.*?</footer>", "")
    raw
      .withColumn("clean_text", trim(regexp_replace(
        regexp_replace(noBlocks, "<[^>]*>", " "), "\\s+", " ")))
      .select(col("p_partkey"), col("clean_text"),
        length(col("html")).as("n_chars_raw"),
        length(col("clean_text")).as("n_chars_clean"))
      .withColumn("content_ratio", round(
        col("n_chars_clean").cast("double") / col("n_chars_raw"), 6))
      .orderBy("p_partkey")
  }

  /** CDX index-record filtering — the FIRST step of the reference's
    * Common Crawl path (extract_common_crawl.py queries the CDX API
    * before any WARC fetch): parse the JSON index lines, keep
    * fetchable captures (status 200, mime text/html), and collapse
    * re-crawls to the LATEST capture per urlkey (argmax by timestamp
    * as one max(struct) aggregate — no per-key window). Two synthetic
    * captures per URL exercise the collapse; field extraction is the
    * regexp idiom (portable), all map-side until the one argmax
    * shuffle on urlkey.
    */
  def extractCdxFilter(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val mkLine = (tsOff: Int) => concat(
      lit("{\"urlkey\": \"com,example)/p"), col("p_partkey"),
      lit("\", \"timestamp\": \"2024"), format_string("%010d", col("p_partkey") % 1000000 + lit(tsOff)),
      lit("\", \"status\": \""),
      when(col("p_partkey") % 5 === 3, "404")
        .when(col("p_partkey") % 5 === 4, "301").otherwise("200"),
      lit("\", \"mime\": \""),
      when(col("p_partkey") % 7 === 0, "application/pdf").otherwise("text/html"),
      lit("\", \"digest\": \""), substring(md5(concat(col("p_name"), lit(tsOff))), 1, 16),
      lit("\"}"))
    val lines = p.select(explode(array(mkLine(0), mkLine(5000))).as("line"))
    lines.select(
        regexp_extract(col("line"), "\"urlkey\": \"([^\"]*)\"", 1).as("urlkey"),
        regexp_extract(col("line"), "\"timestamp\": \"([^\"]*)\"", 1).as("ts"),
        regexp_extract(col("line"), "\"status\": \"([^\"]*)\"", 1).as("status"),
        regexp_extract(col("line"), "\"mime\": \"([^\"]*)\"", 1).as("mime"),
        regexp_extract(col("line"), "\"digest\": \"([^\"]*)\"", 1).as("digest"))
      .filter(col("status") === "200" && col("mime") === "text/html")
      .groupBy("urlkey")
      .agg(max(struct(col("ts"), col("digest"))).as("m"))
      .select(col("urlkey"), col("m.ts").as("timestamp"), col("m.digest").as("digest"))
      .orderBy("urlkey")
  }

  def extractHtmlNames(spark: SparkSession, dir: String): DataFrame = {
    val html = Tables.part(spark, dir)
      .select(col("p_partkey"), synthHtml.as("html"))
    val og = regexp_extract(col("html"),
      "property=\"og:site_name\" content=\"([^\"]*)\"", 1)
    val ld = regexp_extract(col("html"),
      "\"@type\": \"Organization\", \"name\": \"([^\"]*)\"", 1)
    val title = trim(regexp_extract(col("html"), "<title>([^|<]*)", 1))
    html.select(
      col("p_partkey"),
      when(og =!= "", og).when(ld =!= "", ld).otherwise(title).as("company_name"),
      when(og =!= "", "og_site_name").when(ld =!= "", "json_ld")
        .otherwise("title").as("method"))
      .orderBy("p_partkey")
  }
}
