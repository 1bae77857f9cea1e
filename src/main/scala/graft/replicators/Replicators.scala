package graft.replicators

import graft.functions.Converters
import graft.operators.{ColumnSpec, ReplicatorSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Concrete replicator descriptors — Spark ports of representative reference
  * replicators (the registry pattern of `lib/webhookdb/replicator.rb:153-171`).
  * Each is a pure data value: schema + dig paths + converters + merge policy.
  */
object Replicators {

  val registry: Map[String, ReplicatorSpec] = Seq(
    stripeChargeV1, stripeCustomerV1, stripeRefundV1,
    transistorEpisodeStatsV1, atomSingleFeedV1,
    twilioSmsV1, githubIssueV1, githubReleaseV1, intercomContactV1,
    emailOctopusContactV1, frontMessageV1, increaseAccountV1,
    convertkitSubscriberV1, stripeChargeV1Partitioned,
    githubPullV1, increaseTransactionV1, emailOctopusEventV1, sponsySlotV1,
    frontConversationV1, convertkitTagV1, githubIssueCommentV1,
    increaseAchTransferV1, emailOctopusCampaignV1,
    sponsyCustomerV1, sponsyStatusV1, convertkitBroadcastV1,
    emailOctopusListV1, githubRepositoryEventV1, increaseAccountNumberV1,
    transistorShowV1,
    stripeCouponV1, stripeDisputeV1, stripeInvoiceV1, stripePayoutV1,
    stripePriceV1, stripeProductV1, stripeSubscriptionV1,
    increaseEventV1, shopifyOrderV1, shopifyCustomerV1, signalwireMessageV1,
    intercomConversationV1, transistorEpisodeV1,
    increaseAccountTransferV1, increaseCheckTransferV1, increaseWireTransferV1,
    increaseLimitV1, sponsyPlacementV1, plivoSmsInboundV1, webhookdbCustomerV1,
    stripeInvoiceItemV1, stripeSubscriptionItemV1, postmarkInboundMessageV1,
    signalwireMediaV1, jotformWebhookV1,
    postmarkOutboundMessageEventV1, frontSignalwireMessageChannelAppV1,
    urlRecorderV1,
    frontMarketplaceRootV1, intercomMarketplaceRootV1, increaseAppV1,
    sponsyPublicationV1, awsPricingV1, IcalendarCalendar.spec,
    icalendarEventV1, icalendarEventV1Partitioned
  ).map(r => r.name -> r).toMap

  /** Auth-root stub descriptors (`front_marketplace_root_v1.rb`,
    * `intercom_marketplace_root_v1.rb`, `increase_app_v1.rb`): no data of
    * their own — they anchor OAuth/marketplace credentials and fan child
    * integrations out through the dependency DAG (S11). The reference's
    * `build_dependents` side effects map to `DependencyDag` edges; the
    * schema is the single ignored key column. */
  private def rootStub(name: String): ReplicatorSpec = ReplicatorSpec(
    name = name,
    remoteKeyCol = "ignore_id",
    columns = Seq(ColumnSpec("ignore_id", LongType, Seq("ignore_id"))))

  lazy val frontMarketplaceRootV1: ReplicatorSpec = rootStub("front_marketplace_root_v1")
  lazy val intercomMarketplaceRootV1: ReplicatorSpec = rootStub("intercom_marketplace_root_v1")

  /** `increase_app_v1` (`lib/webhookdb/replicator/increase_app_v1.rb`): the
    * OAuth root that receives every Increase event webhook and dispatches it
    * to the dependent per-resource replicators (handled by the dependency
    * DAG routing; the root stores nothing itself). */
  lazy val increaseAppV1: ReplicatorSpec = rootStub("increase_app_v1")

  /** `sponsy_publication_v1` (`lib/webhookdb/replicator/sponsy_publication_v1.rb`):
    * the sponsy root (its API key anchors the family) AND a real table; the
    * three day-array columns are the reference's map-lookup converter
    * showcase (day name -> 0-based Monday index; name -> 1-based Sunday
    * index with numeric remap; index -> name). */
  lazy val sponsyPublicationV1: ReplicatorSpec = {
    val namesMon = Seq("MONDAY", "TUESDAY", "WEDNESDAY", "THURSDAY", "FRIDAY",
      "SATURDAY", "SUNDAY") // DAYS_OF_WEEK.rotate (column.rb:234-242)
    def arrLookup(mapping: Map[String, String], elem: DataType)
        : org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => {
        val m = map(mapping.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
        transform(from_json(c, ArrayType(StringType)),
          x => coalesce(element_at(m, x), x).try_cast(elem))
      }
    val daysMap = namesMon.zipWithIndex.map { case (n, i) => n -> i.toString }.toMap
    val normMap = namesMon.zipWithIndex.map { case (n, i) => n -> ((i + 1) % 7).toString }.toMap ++
      (0 to 6).map(i => i.toString -> ((i + 1) % 7).toString).toMap
    val nameMap = namesMon.zipWithIndex.map { case (n, i) => i.toString -> n }.toMap
    ReplicatorSpec(
      name = "sponsy_publication_v1",
      remoteKeyCol = "sponsy_id",
      columns = Seq(
        ColumnSpec("sponsy_id", StringType, Seq("id")),
        ColumnSpec("name", StringType, Seq("name")),
        ColumnSpec("slug", StringType, Seq("slug")),
        ColumnSpec("type", StringType, Seq("type")),
        ColumnSpec("deleted_at", TimestampType, Seq("deleted_at"),
          convert = Converters.parseTime),
        ColumnSpec("days", ArrayType(IntegerType), Seq("days"),
          convert = arrLookup(daysMap, IntegerType)),
        ColumnSpec("days_normalized", ArrayType(IntegerType), Seq("days"),
          convert = arrLookup(normMap, IntegerType)),
        ColumnSpec("day_names", ArrayType(StringType), Seq("days"),
          convert = arrLookup(nameMap, StringType)),
        ColumnSpec("created_at", TimestampType, Seq("createdAt"),
          convert = Converters.parseTime),
        ColumnSpec("updated_at", TimestampType, Seq("updatedAt"),
          convert = Converters.parseTime)),
      timestampCol = Some("updated_at"),
      versionCol = Some("updated_at"))
  }

  /** `aws_pricing_v1` descriptor (`lib/webhookdb/replicator/aws_pricing_v1.rb:27-70`):
    * the rate-card table written by the streaming expansion in
    * [[AwsPricing]] (S7/G2 — one row per product x term x price dimension;
    * `rate_code` = `"{sku}.{offerTermCode}.{rateCode}"` remote key). */
  lazy val awsPricingV1: ReplicatorSpec = ReplicatorSpec(
    name = "aws_pricing_v1",
    remoteKeyCol = "rate_code",
    columns = Seq(
      ColumnSpec("rate_code", StringType, Seq("rate_code")),
      ColumnSpec("product_sku", StringType, Seq("product_sku")),
      ColumnSpec("product_family", StringType, Seq("product_family")),
      ColumnSpec("product_attributes", StringType, Seq("product_attributes")),
      ColumnSpec("product_group", StringType, Seq("product_group")),
      ColumnSpec("product_location", StringType, Seq("product_location")),
      ColumnSpec("product_region", StringType, Seq("product_region")),
      ColumnSpec("product_operation", StringType, Seq("product_operation")),
      ColumnSpec("product_usagetype", StringType, Seq("product_usagetype")),
      ColumnSpec("publication_date", TimestampType, Seq("publication_date"),
        convert = Converters.parseTime),
      ColumnSpec("service_code", StringType, Seq("service_code")),
      ColumnSpec("version", StringType, Seq("version")),
      ColumnSpec("term_type", StringType, Seq("term_type")),
      ColumnSpec("term_code", StringType, Seq("term_code")),
      ColumnSpec("offer_term_code", StringType, Seq("offer_term_code")),
      ColumnSpec("effective_date", TimestampType, Seq("effective_date"),
        convert = Converters.parseTime),
      ColumnSpec("applies_to", ArrayType(StringType), Seq("applies_to"),
        convert = c => from_json(c, ArrayType(StringType))),
      ColumnSpec("begin_range", DecimalType(38, 18), Seq("begin_range")),
      ColumnSpec("end_range", DecimalType(38, 18), Seq("end_range")),
      ColumnSpec("unit", StringType, Seq("unit")),
      ColumnSpec("price_per_unit_raw", StringType, Seq("price_per_unit_raw")),
      ColumnSpec("price_per_unit_amount", DecimalType(38, 18), Seq("price_per_unit_amount")),
      ColumnSpec("price_per_unit_currency", StringType, Seq("price_per_unit_currency")),
      ColumnSpec("description", StringType, Seq("description"))),
    timestampCol = Some("publication_date"))

  /** `icalendar_event_v1` descriptor (`icalendar_event_v1.rb:26-97`): the
    * expanded-occurrence table written by [[IcalendarEvents.expandFeed]]
    * (G1/E16/E17/E18); merge is data-diff conditioned like the reference's
    * `tgt.data IS DISTINCT FROM excluded.data` (`:227-234`). */
  lazy val icalendarEventV1: ReplicatorSpec = ReplicatorSpec(
    name = "icalendar_event_v1",
    remoteKeyCol = "compound_identity",
    columns = Seq(
      ColumnSpec("compound_identity", StringType, Seq("compound_identity")),
      ColumnSpec("calendar_external_id", StringType, Seq("calendar_external_id")),
      ColumnSpec("uid", StringType, Seq("uid")),
      ColumnSpec("status", StringType, Seq("status")),
      ColumnSpec("start_at", TimestampType, Seq("start_at"), convert = Converters.parseTime),
      ColumnSpec("end_at", TimestampType, Seq("end_at"), convert = Converters.parseTime),
      ColumnSpec("start_date", DateType, Seq("start_date"), convert = Converters.parseDate),
      ColumnSpec("end_date", DateType, Seq("end_date"), convert = Converters.parseDate),
      ColumnSpec("missing_timezone", BooleanType, Seq("missing_timezone"),
        defaulter = Some(Converters.defaultFalse)),
      ColumnSpec("categories", ArrayType(StringType), Seq("categories"),
        convert = c => from_json(c, ArrayType(StringType))),
      ColumnSpec("priority", IntegerType, Seq("priority")),
      ColumnSpec("classification", StringType, Seq("classification")),
      ColumnSpec("geo_lat", DoubleType, Seq("geo_lat")),
      ColumnSpec("geo_lng", DoubleType, Seq("geo_lng")),
      ColumnSpec("recurring_event_id", StringType, Seq("recurring_event_id")),
      ColumnSpec("recurring_event_sequence", IntegerType, Seq("recurring_event_sequence")),
      ColumnSpec("last_modified_at", TimestampType, Seq("last_modified_at"),
        convert = Converters.parseTime)),
    timestampCol = Some("last_modified_at"))

  /** U5 — the reference's `icalendar_event_v1_partitioned`
    * (`icalendar_event_v1.rb` + `partitionable_mixin.rb:62-70`): identical
    * schema, conflict target gains the str2inthash(calendar_external_id)
    * partition column so merges prune to touched hash partitions. */
  lazy val icalendarEventV1Partitioned: ReplicatorSpec =
    icalendarEventV1.copy(name = "icalendar_event_v1_partitioned", partitioned = true)

  /** `postmark_outbound_message_event_v1`
    * (`lib/webhookdb/replicator/postmark_outbound_message_event_v1.rb`):
    * synthetic md5 event key; timestamp falls back across the per-record-type
    * timestamp fields. */
  lazy val postmarkOutboundMessageEventV1: ReplicatorSpec = ReplicatorSpec(
    name = "postmark_outbound_message_event_v1",
    remoteKeyCol = "event_id",
    columns = Seq(
      ColumnSpec("event_id", StringType, Seq("event_id"),
        resourceExpr = Some(r => md5(concat(
          coalesce(get_json_object(r, "$.MessageID"), lit("")),
          coalesce(get_json_object(r, "$.RecordType"), lit("")),
          coalesce(get_json_object(r, "$.ChangedAt"),
            get_json_object(r, "$.DeliveredAt"),
            get_json_object(r, "$.ReceivedAt"),
            get_json_object(r, "$.BouncedAt"), lit("")))))),
      ColumnSpec("message_id", StringType, Seq("MessageID")),
      ColumnSpec("record_type", StringType, Seq("RecordType")),
      ColumnSpec("tag", StringType, Seq("Tag")),
      ColumnSpec("recipient", StringType, Seq("Recipient")),
      ColumnSpec("timestamp", TimestampType, Seq("timestamp"),
        resourceExpr = Some(r => Converters.parseTime(coalesce(
          get_json_object(r, "$.ChangedAt"),
          get_json_object(r, "$.DeliveredAt"),
          get_json_object(r, "$.ReceivedAt"),
          get_json_object(r, "$.BouncedAt"))))),
      ColumnSpec("changed_at", TimestampType, Seq("ChangedAt"), convert = Converters.parseTime),
      ColumnSpec("delivered_at", TimestampType, Seq("DeliveredAt"), convert = Converters.parseTime),
      ColumnSpec("received_at", TimestampType, Seq("ReceivedAt"), convert = Converters.parseTime),
      ColumnSpec("bounced_at", TimestampType, Seq("BouncedAt"), convert = Converters.parseTime)),
    timestampCol = Some("timestamp"))

  /** `front_signalwire_message_channel_app_v1`
    * (`lib/webhookdb/replicator/front_signalwire_message_channel_app_v1.rb`):
    * the two-way bridge table (subset of columns; the delivery side is
    * orchestration). */
  lazy val frontSignalwireMessageChannelAppV1: ReplicatorSpec = ReplicatorSpec(
    name = "front_signalwire_message_channel_app_v1",
    remoteKeyCol = "external_id",
    columns = Seq(
      ColumnSpec("external_id", StringType, Seq("external_id")),
      ColumnSpec("signalwire_sid", StringType, Seq("signalwire_sid"), skipNil = true),
      ColumnSpec("front_message_id", StringType, Seq("front_message_id"), skipNil = true),
      ColumnSpec("external_conversation_id", StringType, Seq("external_conversation_id")),
      ColumnSpec("row_updated_at", TimestampType, Seq("row_updated_at"),
        defaulter = Some(Converters.defaultNow)),
      ColumnSpec("direction", StringType, Seq("direction")),
      ColumnSpec("body", StringType, Seq("body")),
      ColumnSpec("sender", StringType, Seq("sender"))),
    timestampCol = Some("row_updated_at"))

  /** `url_recorder_v1` (`lib/webhookdb/replicator/url_recorder_v1.rb`):
    * sequence-keyed request recorder (E9 surrogate ids). */
  lazy val urlRecorderV1: ReplicatorSpec = ReplicatorSpec(
    name = "url_recorder_v1",
    remoteKeyCol = "unique_id",
    columns = Seq(
      ColumnSpec("unique_id", LongType, Seq("unique_id"),
        resourceExpr = Some(r => coalesce(
          Converters.toI(get_json_object(r, "$.unique_id")),
          monotonically_increasing_id()))),
      ColumnSpec("inserted_at", TimestampType, Seq("inserted_at"),
        defaulter = Some(Converters.defaultNow)),
      ColumnSpec("request_method", StringType, Seq("request_method")),
      ColumnSpec("path", StringType, Seq("path")),
      ColumnSpec("full_url", StringType, Seq("full_url")),
      ColumnSpec("user_agent", StringType, Seq("user_agent")),
      ColumnSpec("ip", StringType, Seq("ip")),
      ColumnSpec("content_type", StringType, Seq("content_type")),
      ColumnSpec("parsed_query", StringType, Seq("parsed_query")),
      ColumnSpec("parsed_body", StringType, Seq("parsed_body"))),
    timestampCol = Some("inserted_at"))

  /** `stripe_invoice_item_v1` (`lib/webhookdb/replicator/stripe_invoice_item_v1.rb`). */
  lazy val stripeInvoiceItemV1: ReplicatorSpec = stripeSpec("stripe_invoice_item_v1", Seq(
    int("amount"), txt("customer"), ts("date"), txt("description"), txt("invoice"),
    ColumnSpec("price", StringType, Seq("price", "id")),
    ColumnSpec("product", StringType, Seq("price", "product")),
    int("quantity"), txt("subscription"), txt("subscription_item")))

  /** `stripe_subscription_item_v1`
    * (`lib/webhookdb/replicator/stripe_subscription_item_v1.rb`). */
  lazy val stripeSubscriptionItemV1: ReplicatorSpec = stripeSpec("stripe_subscription_item_v1", Seq(
    ts("created"),
    ColumnSpec("price", StringType, Seq("price", "id")),
    ColumnSpec("product", StringType, Seq("price", "product")),
    int("quantity"), txt("subscription")))

  /** `postmark_inbound_message_v1`
    * (`lib/webhookdb/replicator/postmark_inbound_message_v1.rb`): array-index
    * dig (`ToFull[0].Email`), capitalized payload keys. */
  lazy val postmarkInboundMessageV1: ReplicatorSpec = ReplicatorSpec(
    name = "postmark_inbound_message_v1",
    remoteKeyCol = "message_id",
    columns = Seq(
      ColumnSpec("message_id", StringType, Seq("MessageID")),
      ColumnSpec("from_email", StringType, Seq("FromFull", "Email")),
      ColumnSpec("to_email", StringType, Seq("ToFull", "0", "Email")),
      ColumnSpec("subject", StringType, Seq("Subject")),
      ColumnSpec("timestamp", TimestampType, Seq("Date"), convert = Converters.parseTime),
      ColumnSpec("tag", StringType, Seq("Tag"))),
    timestampCol = Some("timestamp"))

  /** `signalwire_media_v1` (`lib/webhookdb/replicator/signalwire_media_v1.rb`). */
  lazy val signalwireMediaV1: ReplicatorSpec = ReplicatorSpec(
    name = "signalwire_media_v1",
    remoteKeyCol = "signalwire_id",
    columns = Seq(
      ColumnSpec("signalwire_id", StringType, Seq("sid")),
      txt("account_sid"), txt("parent_sid"), txt("content_type"), txt("uri"),
      iso("date_created"), iso("date_updated")),
    timestampCol = Some("date_updated"))

  /** `jotform_webhook_v1` (`lib/webhookdb/replicator/jotform_webhook_v1.rb`):
    * nested rawRequest digs; epoch-millis string timestamps. */
  lazy val jotformWebhookV1: ReplicatorSpec = {
    def msTs(name: String, key: String) =
      ColumnSpec(name, TimestampType, Seq("rawRequest", key),
        convert = c => timestamp_seconds(floor(Converters.toI(c) / 1000)))
    ReplicatorSpec(
      name = "jotform_webhook_v1",
      remoteKeyCol = "event_id",
      columns = Seq(
        ColumnSpec("event_id", StringType, Seq("rawRequest", "event_id")),
        ColumnSpec("form_id", StringType, Seq("formID")),
        ColumnSpec("submission_id", StringType, Seq("submissionID")),
        msTs("submit_date", "submitDate"),
        msTs("build_date", "buildDate")),
      timestampCol = Some("submit_date"))
  }

  /** Increase family shared shape: id key + ISO timestamps. */
  private def increaseSpec(name: String, cols: Seq[ColumnSpec],
                           tsCol: String = "updated_at"): ReplicatorSpec =
    ReplicatorSpec(
      name = name,
      remoteKeyCol = "increase_id",
      columns = ColumnSpec("increase_id", StringType, Seq("id")) +: cols,
      timestampCol = Some(tsCol))

  private def iso(name: String, key: String = null) =
    ColumnSpec(name, TimestampType, Seq(Option(key).getOrElse(name)),
      convert = Converters.parseTime)

  /** `increase_account_transfer_v1`. */
  lazy val increaseAccountTransferV1: ReplicatorSpec =
    increaseSpec("increase_account_transfer_v1", Seq(
      int("amount"), txt("account_id"), iso("created_at"), iso("updated_at"),
      txt("destination_account_id"), txt("destination_transaction_id"),
      txt("status"), txt("transaction_id")))

  /** `increase_check_transfer_v1`. */
  lazy val increaseCheckTransferV1: ReplicatorSpec =
    increaseSpec("increase_check_transfer_v1", Seq(
      iso("created_at"), iso("updated_at"), txt("account_id"), int("amount"),
      txt("account_number"), txt("routing_number"), txt("check_number"),
      txt("status")))

  /** `increase_wire_transfer_v1`: nested approval dig. */
  lazy val increaseWireTransferV1: ReplicatorSpec =
    increaseSpec("increase_wire_transfer_v1", Seq(
      txt("account_number"), txt("account_id"), int("amount"),
      ColumnSpec("approved_at", TimestampType, Seq("approval", "approved_at"),
        convert = Converters.parseTime),
      iso("created_at"), iso("updated_at"), txt("routing_number"),
      txt("status"), txt("transaction_id")))

  /** `increase_limit_v1`: row timestamp aliased from updated_at. */
  lazy val increaseLimitV1: ReplicatorSpec =
    increaseSpec("increase_limit_v1", Seq(
      txt("interval"), txt("metric"), txt("model_id"), txt("model_type"),
      ColumnSpec("row_updated_at", TimestampType, Seq("updated_at"),
        convert = Converters.parseTime),
      txt("status"), int("value")), tsCol = "row_updated_at")

  /** `sponsy_placement_v1`. */
  lazy val sponsyPlacementV1: ReplicatorSpec = sponsySpec("sponsy_placement_v1", Seq(
    ColumnSpec("publication_id", StringType, Seq("publication_id")),
    txt("name"), txt("slug"), txt("color"), int("order")))

  /** `plivo_sms_inbound_v1`: capitalized payload keys + inserted-at
    * defaulter. */
  lazy val plivoSmsInboundV1: ReplicatorSpec = ReplicatorSpec(
    name = "plivo_sms_inbound_v1",
    remoteKeyCol = "plivo_message_uuid",
    columns = Seq(
      ColumnSpec("plivo_message_uuid", StringType, Seq("MessageUUID")),
      ColumnSpec("row_inserted_at", TimestampType, Seq("row_inserted_at"),
        defaulter = Some(Converters.defaultNow), setOnce = true),
      ColumnSpec("from_number", StringType, Seq("From")),
      ColumnSpec("to_number", StringType, Seq("To"))),
    timestampCol = Some("row_inserted_at"))

  /** `webhookdb_customer_v1` (the reference dogfooding its own customers). */
  lazy val webhookdbCustomerV1: ReplicatorSpec = ReplicatorSpec(
    name = "webhookdb_customer_v1",
    remoteKeyCol = "webhookdb_id",
    columns = Seq(
      ColumnSpec("webhookdb_id", StringType, Seq("id")),
      iso("created_at"),
      ColumnSpec("email", StringType, Seq("email"))),
    timestampCol = Some("created_at"))

  /** `increase_event_v1` (`lib/webhookdb/replicator/increase_event_v1.rb`). */
  lazy val increaseEventV1: ReplicatorSpec = ReplicatorSpec(
    name = "increase_event_v1",
    remoteKeyCol = "increase_id",
    columns = Seq(
      ColumnSpec("increase_id", StringType, Seq("id")),
      ColumnSpec("associated_object_id", StringType, Seq("associated_object_id")),
      ColumnSpec("associated_object_type", StringType, Seq("associated_object_type")),
      ColumnSpec("category", StringType, Seq("category")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime)),
    timestampCol = Some("created_at"))

  /** `shopify_order_v1` (`lib/webhookdb/replicator/shopify_order_v1.rb`,
    * representative columns). */
  lazy val shopifyOrderV1: ReplicatorSpec = ReplicatorSpec(
    name = "shopify_order_v1",
    remoteKeyCol = "shopify_id",
    columns = Seq(
      ColumnSpec("shopify_id", StringType, Seq("id")),
      ColumnSpec("app_id", StringType, Seq("app_id")),
      ColumnSpec("cancelled_at", TimestampType, Seq("cancelled_at"), convert = Converters.parseTime),
      ColumnSpec("closed_at", TimestampType, Seq("closed_at"), convert = Converters.parseTime),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime),
      ColumnSpec("customer_id", StringType, Seq("customer", "id")),
      ColumnSpec("email", StringType, Seq("email")),
      ColumnSpec("order_number", LongType, Seq("order_number")),
      ColumnSpec("updated_at", TimestampType, Seq("updated_at"), convert = Converters.parseTime)),
    timestampCol = Some("updated_at"),
    versionCol = Some("updated_at"))

  /** `shopify_customer_v1` (`lib/webhookdb/replicator/shopify_customer_v1.rb`). */
  lazy val shopifyCustomerV1: ReplicatorSpec = ReplicatorSpec(
    name = "shopify_customer_v1",
    remoteKeyCol = "shopify_id",
    columns = Seq(
      ColumnSpec("shopify_id", StringType, Seq("id")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime),
      ColumnSpec("email", StringType, Seq("email")),
      ColumnSpec("first_name", StringType, Seq("first_name")),
      ColumnSpec("last_name", StringType, Seq("last_name")),
      ColumnSpec("last_order_id", StringType, Seq("last_order_id")),
      ColumnSpec("phone", StringType, Seq("phone")),
      ColumnSpec("state", StringType, Seq("state")),
      ColumnSpec("updated_at", TimestampType, Seq("updated_at"), convert = Converters.parseTime)),
    timestampCol = Some("updated_at"),
    versionCol = Some("updated_at"))

  /** `signalwire_message_v1` (`lib/webhookdb/replicator/signalwire_message_v1.rb`):
    * twilio-compatible shape keyed on sid. */
  lazy val signalwireMessageV1: ReplicatorSpec = ReplicatorSpec(
    name = "signalwire_message_v1",
    remoteKeyCol = "signalwire_id",
    columns = Seq(
      ColumnSpec("signalwire_id", StringType, Seq("sid")),
      ColumnSpec("date_created", TimestampType, Seq("date_created"), convert = Converters.parseTime),
      ColumnSpec("date_sent", TimestampType, Seq("date_sent"), convert = Converters.parseTime),
      ColumnSpec("date_updated", TimestampType, Seq("date_updated"), convert = Converters.parseTime),
      ColumnSpec("direction", StringType, Seq("direction")),
      ColumnSpec("from", StringType, Seq("from")),
      ColumnSpec("status", StringType, Seq("status")),
      ColumnSpec("to", StringType, Seq("to"))),
    timestampCol = Some("date_updated"),
    versionCol = Some("date_updated"))

  /** `intercom_conversation_v1`
    * (`lib/webhookdb/replicator/intercom_conversation_v1.rb`). */
  lazy val intercomConversationV1: ReplicatorSpec = ReplicatorSpec(
    name = "intercom_conversation_v1",
    remoteKeyCol = "intercom_id",
    columns = Seq(
      ColumnSpec("intercom_id", StringType, Seq("id")),
      ColumnSpec("title", StringType, Seq("title"), skipNil = true),
      ColumnSpec("state", StringType, Seq("state"), skipNil = true),
      ColumnSpec("open", BooleanType, Seq("open"), skipNil = true),
      ColumnSpec("read", BooleanType, Seq("read"), skipNil = true),
      ColumnSpec("created_at", TimestampType, Seq("created_at"),
        convert = Converters.unixTs, skipNil = true),
      ColumnSpec("updated_at", TimestampType, Seq("updated_at"),
        convert = Converters.unixTs, skipNil = true),
      ColumnSpec("deleted_at", TimestampType, Seq("deleted_at"),
        convert = Converters.unixTs, skipNil = true)),
    timestampCol = Some("updated_at"))

  /** `transistor_episode_v1` (`lib/webhookdb/replicator/transistor_episode_v1.rb`,
    * representative columns — JSON:API attributes). */
  lazy val transistorEpisodeV1: ReplicatorSpec = ReplicatorSpec(
    name = "transistor_episode_v1",
    remoteKeyCol = "transistor_id",
    columns = Seq(
      ColumnSpec("transistor_id", StringType, Seq("id")),
      ColumnSpec("author", StringType, Seq("attributes", "author")),
      ColumnSpec("duration", LongType, Seq("attributes", "duration")),
      ColumnSpec("keywords", StringType, Seq("attributes", "keywords")),
      ColumnSpec("number", LongType, Seq("attributes", "number")),
      ColumnSpec("season", LongType, Seq("attributes", "season")),
      ColumnSpec("status", StringType, Seq("attributes", "status")),
      ColumnSpec("title", StringType, Seq("attributes", "title")),
      ColumnSpec("show_id", StringType, Seq("relationships", "show", "data", "id")),
      ColumnSpec("created_at", TimestampType, Seq("attributes", "created_at"),
        convert = Converters.parseTime),
      ColumnSpec("updated_at", TimestampType, Seq("attributes", "updated_at"),
        convert = Converters.parseTime),
      ColumnSpec("published_at", TimestampType, Seq("attributes", "published_at"),
        convert = Converters.parseTime)),
    timestampCol = Some("updated_at"),
    versionCol = Some("updated_at"),
    dependsOn = Some("transistor_show_v1"))

  private def ts(name: String, key: String = null) =
    ColumnSpec(name, TimestampType, Seq(Option(key).getOrElse(name)),
      convert = Converters.unixTs)
  private def txt(name: String) = ColumnSpec(name, StringType, Seq(name))
  private def int(name: String) = ColumnSpec(name, LongType, Seq(name))

  /** `stripe_coupon_v1` (`lib/webhookdb/replicator/stripe_coupon_v1.rb`). */
  lazy val stripeCouponV1: ReplicatorSpec = stripeSpec("stripe_coupon_v1", Seq(
    txt("amount_off"), ts("created"), txt("duration"), int("max_redemptions"),
    txt("name"), ColumnSpec("percent_off", DecimalType(10, 4), Seq("percent_off")),
    int("times_redeemed")))

  /** `stripe_dispute_v1` (`lib/webhookdb/replicator/stripe_dispute_v1.rb`):
    * evidence block digs. */
  lazy val stripeDisputeV1: ReplicatorSpec = stripeSpec("stripe_dispute_v1", Seq(
    int("amount"), txt("charge"),
    ColumnSpec("cancellation_policy", StringType, Seq("evidence", "cancellation_policy")),
    ts("created"), txt("is_charge_refundable"),
    ColumnSpec("receipt", StringType, Seq("evidence", "receipt")),
    ColumnSpec("refund_policy", StringType, Seq("evidence", "refund_policy")),
    txt("status")))

  /** `stripe_invoice_v1` (`lib/webhookdb/replicator/stripe_invoice_v1.rb`). */
  lazy val stripeInvoiceV1: ReplicatorSpec = stripeSpec("stripe_invoice_v1", Seq(
    int("amount_due"), int("amount_paid"), int("amount_remaining"),
    txt("charge"), ts("created"), txt("customer"), txt("customer_email"),
    txt("customer_name"), txt("number"),
    ts("period_start"), ts("period_end"), txt("status")))

  /** `stripe_payout_v1` (`lib/webhookdb/replicator/stripe_payout_v1.rb`). */
  lazy val stripePayoutV1: ReplicatorSpec = stripeSpec("stripe_payout_v1", Seq(
    int("amount"), ts("arrival_date"), txt("balance_transaction"), ts("created"),
    txt("destination"), txt("failure_balance_transaction"), txt("original_payout"),
    txt("reversed_by"), txt("statement_descriptor"), txt("status")))

  /** `stripe_price_v1` (`lib/webhookdb/replicator/stripe_price_v1.rb`). */
  lazy val stripePriceV1: ReplicatorSpec = stripeSpec("stripe_price_v1", Seq(
    ts("created"),
    ColumnSpec("interval", StringType, Seq("recurring", "interval")),
    txt("product"), txt("type"), txt("unit_amount")))

  /** `stripe_product_v1` (`lib/webhookdb/replicator/stripe_product_v1.rb`). */
  lazy val stripeProductV1: ReplicatorSpec = stripeSpec("stripe_product_v1", Seq(
    ts("created"), txt("name"), txt("package_dimensions"),
    txt("statement_descriptor"), txt("unit_label")))

  /** `stripe_subscription_v1` (`lib/webhookdb/replicator/stripe_subscription_v1.rb`). */
  lazy val stripeSubscriptionV1: ReplicatorSpec = stripeSpec("stripe_subscription_v1", Seq(
    ts("billing_cycle_anchor"), ts("cancel_at"), ts("canceled_at"), ts("created"),
    ts("current_period_end"), ts("current_period_start"), txt("customer"),
    txt("default_payment_method"), txt("discount"), ts("ended_at"),
    txt("latest_invoice"), txt("schedule"), txt("status")))

  /** Sponsy family shared shape (`sponsy_v1_mixin.rb`): id key + ISO
    * timestamps, monotonic on updated_at. */
  private def sponsySpec(name: String, cols: Seq[ColumnSpec]): ReplicatorSpec =
    ReplicatorSpec(
      name = name,
      remoteKeyCol = "sponsy_id",
      columns = (ColumnSpec("sponsy_id", StringType, Seq("id")) +: cols) ++ Seq(
        ColumnSpec("created_at", TimestampType, Seq("createdAt"), convert = Converters.parseTime),
        ColumnSpec("updated_at", TimestampType, Seq("updatedAt"), convert = Converters.parseTime)),
      timestampCol = Some("updated_at"),
      versionCol = Some("updated_at"))

  /** `sponsy_customer_v1` (`lib/webhookdb/replicator/sponsy_customer_v1.rb`). */
  lazy val sponsyCustomerV1: ReplicatorSpec = sponsySpec("sponsy_customer_v1", Seq(
    ColumnSpec("name", StringType, Seq("name")),
    ColumnSpec("logo", StringType, Seq("logo")),
    ColumnSpec("notes", StringType, Seq("notes")),
    ColumnSpec("portal_text", StringType, Seq("portalText")),
    ColumnSpec("portal_id", StringType, Seq("portalId"))))

  /** `sponsy_status_v1` (`lib/webhookdb/replicator/sponsy_status_v1.rb`). */
  lazy val sponsyStatusV1: ReplicatorSpec = sponsySpec("sponsy_status_v1", Seq(
    ColumnSpec("publication_id", StringType, Seq("publication_id")),
    ColumnSpec("name", StringType, Seq("name")),
    ColumnSpec("slug", StringType, Seq("slug")),
    ColumnSpec("color", StringType, Seq("color")),
    ColumnSpec("order", LongType, Seq("order"))))

  /** `convertkit_broadcast_v1`
    * (`lib/webhookdb/replicator/convertkit_broadcast_v1.rb`): the stats
    * block comes entirely from an enrichment fetch. */
  lazy val convertkitBroadcastV1: ReplicatorSpec = ReplicatorSpec(
    name = "convertkit_broadcast_v1",
    remoteKeyCol = "convertkit_id",
    columns = Seq(
      ColumnSpec("convertkit_id", LongType, Seq("id")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime),
      ColumnSpec("subject", StringType, Seq("subject")),
      ColumnSpec("click_rate", DecimalType(10, 4), Seq("click_rate"), fromEnrichment = true),
      ColumnSpec("open_rate", DecimalType(10, 4), Seq("open_rate"), fromEnrichment = true),
      ColumnSpec("recipients", LongType, Seq("recipients"), fromEnrichment = true),
      ColumnSpec("status", StringType, Seq("status"), fromEnrichment = true),
      ColumnSpec("total_clicks", LongType, Seq("total_clicks"), fromEnrichment = true),
      ColumnSpec("unsubscribes", LongType, Seq("unsubscribes"), fromEnrichment = true)),
    timestampCol = Some("created_at"),
    usesEnrichment = true)

  /** `email_octopus_list_v1` (`lib/webhookdb/replicator/email_octopus_list_v1.rb`):
    * nested counts block. */
  lazy val emailOctopusListV1: ReplicatorSpec = ReplicatorSpec(
    name = "email_octopus_list_v1",
    remoteKeyCol = "email_octopus_id",
    columns = Seq(
      ColumnSpec("email_octopus_id", StringType, Seq("id")),
      ColumnSpec("name", StringType, Seq("name")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime),
      ColumnSpec("pending", LongType, Seq("counts", "pending")),
      ColumnSpec("subscribed", LongType, Seq("counts", "subscribed")),
      ColumnSpec("unsubscribed", LongType, Seq("counts", "unsubscribed")),
      ColumnSpec("row_updated_at", TimestampType, Seq("row_updated_at"),
        defaulter = Some(Converters.defaultNow))),
    timestampCol = Some("row_updated_at"))

  /** `github_repository_event_v1`
    * (`lib/webhookdb/replicator/github_repository_event_v1.rb`). */
  lazy val githubRepositoryEventV1: ReplicatorSpec = ReplicatorSpec(
    name = "github_repository_event_v1",
    remoteKeyCol = "github_id",
    columns = Seq(
      ColumnSpec("github_id", StringType, Seq("id")),
      ColumnSpec("type", StringType, Seq("type")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime),
      ColumnSpec("actor_id", LongType, Seq("actor", "id")),
      ColumnSpec("row_updated_at", TimestampType, Seq("row_updated_at"),
        defaulter = Some(Converters.defaultNow))),
    timestampCol = Some("row_updated_at"))

  /** `increase_account_number_v1`
    * (`lib/webhookdb/replicator/increase_account_number_v1.rb`). */
  lazy val increaseAccountNumberV1: ReplicatorSpec = ReplicatorSpec(
    name = "increase_account_number_v1",
    remoteKeyCol = "increase_id",
    columns = Seq(
      ColumnSpec("increase_id", StringType, Seq("id")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime),
      ColumnSpec("updated_at", TimestampType, Seq("updated_at"), convert = Converters.parseTime),
      ColumnSpec("account_id", StringType, Seq("account_id")),
      ColumnSpec("account_number", StringType, Seq("account_number")),
      ColumnSpec("name", StringType, Seq("name")),
      ColumnSpec("routing_number", StringType, Seq("routing_number")),
      ColumnSpec("status", StringType, Seq("status"))),
    timestampCol = Some("updated_at"))

  /** `transistor_show_v1` (`lib/webhookdb/replicator/transistor_show_v1.rb`):
    * JSON:API shape — fields nested under `attributes`. */
  lazy val transistorShowV1: ReplicatorSpec = ReplicatorSpec(
    name = "transistor_show_v1",
    remoteKeyCol = "transistor_id",
    columns = Seq(
      ColumnSpec("transistor_id", StringType, Seq("id")),
      ColumnSpec("author", StringType, Seq("attributes", "author")),
      ColumnSpec("created_at", TimestampType, Seq("attributes", "created_at"),
        convert = Converters.parseTime),
      ColumnSpec("description", StringType, Seq("attributes", "description")),
      ColumnSpec("title", StringType, Seq("attributes", "title")),
      ColumnSpec("updated_at", TimestampType, Seq("attributes", "updated_at"),
        convert = Converters.parseTime),
      ColumnSpec("website", StringType, Seq("attributes", "website"))),
    timestampCol = Some("updated_at"),
    versionCol = Some("updated_at"))

  /** `front_conversation_v1` (`lib/webhookdb/replicator/front_conversation_v1.rb`). */
  lazy val frontConversationV1: ReplicatorSpec = ReplicatorSpec(
    name = "front_conversation_v1",
    remoteKeyCol = "front_id",
    columns = Seq(
      ColumnSpec("front_id", StringType, Seq("id")),
      ColumnSpec("subject", StringType, Seq("subject")),
      ColumnSpec("status", StringType, Seq("status")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"),
        convert = Converters.unixTs)),
    timestampCol = Some("created_at"),
    eventPred = body => get_json_object(body, "$.payload.target.data.id").isNotNull,
    resourcePath = Seq("payload", "target", "data"))

  /** `convertkit_tag_v1` (`lib/webhookdb/replicator/convertkit_tag_v1.rb`):
    * subscription count comes from an enrichment fetch. */
  lazy val convertkitTagV1: ReplicatorSpec = ReplicatorSpec(
    name = "convertkit_tag_v1",
    remoteKeyCol = "convertkit_id",
    columns = Seq(
      ColumnSpec("convertkit_id", LongType, Seq("id")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"),
        convert = Converters.parseTime),
      ColumnSpec("name", StringType, Seq("name")),
      ColumnSpec("total_subscriptions", LongType, Seq("total_subscriptions"),
        fromEnrichment = true)),
    timestampCol = Some("created_at"),
    usesEnrichment = true)

  /** `github_issue_comment_v1`
    * (`lib/webhookdb/replicator/github_issue_comment_v1.rb`). */
  lazy val githubIssueCommentV1: ReplicatorSpec = ReplicatorSpec(
    name = "github_issue_comment_v1",
    remoteKeyCol = "github_id",
    columns = Seq(
      ColumnSpec("github_id", LongType, Seq("id")),
      ColumnSpec("issue_id", LongType, Seq("issue", "id")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime),
      ColumnSpec("updated_at", TimestampType, Seq("updated_at"), convert = Converters.parseTime),
      ColumnSpec("user_id", LongType, Seq("user", "id")),
      ColumnSpec("node_id", StringType, Seq("node_id"))),
    timestampCol = Some("updated_at"),
    versionCol = Some("updated_at"))

  /** `increase_ach_transfer_v1`
    * (`lib/webhookdb/replicator/increase_ach_transfer_v1.rb`). */
  lazy val increaseAchTransferV1: ReplicatorSpec = ReplicatorSpec(
    name = "increase_ach_transfer_v1",
    remoteKeyCol = "increase_id",
    columns = Seq(
      ColumnSpec("increase_id", StringType, Seq("id")),
      ColumnSpec("account_number", StringType, Seq("account_number")),
      ColumnSpec("account_id", StringType, Seq("account_id")),
      ColumnSpec("amount", LongType, Seq("amount")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime),
      ColumnSpec("updated_at", TimestampType, Seq("updated_at"), convert = Converters.parseTime),
      ColumnSpec("routing_number", StringType, Seq("routing_number")),
      ColumnSpec("status", StringType, Seq("status")),
      ColumnSpec("transaction_id", StringType, Seq("transaction_id"))),
    timestampCol = Some("updated_at"))

  /** `email_octopus_campaign_v1`
    * (`lib/webhookdb/replicator/email_octopus_campaign_v1.rb`). */
  lazy val emailOctopusCampaignV1: ReplicatorSpec = ReplicatorSpec(
    name = "email_octopus_campaign_v1",
    remoteKeyCol = "email_octopus_id",
    columns = Seq(
      ColumnSpec("email_octopus_id", StringType, Seq("id")),
      ColumnSpec("name", StringType, Seq("name")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime),
      ColumnSpec("sent_at", TimestampType, Seq("sent_at"), convert = Converters.parseTime),
      ColumnSpec("status", StringType, Seq("status")),
      ColumnSpec("from_name", StringType, Seq("from", "name")),
      ColumnSpec("from_email_address", StringType, Seq("from", "email_address")),
      ColumnSpec("subject", StringType, Seq("subject")),
      ColumnSpec("row_updated_at", TimestampType, Seq("row_updated_at"),
        defaulter = Some(Converters.defaultNow))),
    timestampCol = Some("row_updated_at"))

  /** Partitioned variant (U5 — the reference ships
    * `icalendar_event_v1_partitioned`; here the same mechanism on the stripe
    * schema): the conflict target gains the str2inthash partition column so
    * merges prune to touched hash partitions. */
  lazy val stripeChargeV1Partitioned: ReplicatorSpec =
    stripeChargeV1.copy(name = "stripe_charge_v1_partitioned", partitioned = true)

  /** Stripe family shared shape (`stripe_v1_mixin.rb:6-10`): event envelope
    * unwrap at `data.object`; `updated` takes the envelope's `created`;
    * monotonic update on `updated`. */
  private def stripeSpec(name: String, cols: Seq[ColumnSpec]): ReplicatorSpec =
    ReplicatorSpec(
      name = name,
      remoteKeyCol = "stripe_id",
      columns = ColumnSpec("stripe_id", StringType, Seq("id")) +: cols :+
        ColumnSpec("updated", TimestampType, Seq("created"), eventKey = Seq("created"),
          convert = Converters.unixTs),
      timestampCol = Some("updated"),
      versionCol = Some("updated"),
      eventPred = body => get_json_object(body, "$.object") === "event",
      resourcePath = Seq("data", "object"))

  /** `stripe_charge_v1` (`lib/webhookdb/replicator/stripe_charge_v1.rb:23-60`):
    * event-wrapped unwrap at `data.object` (`stripe_v1_mixin.rb:6-10`),
    * `updated` prefers the event envelope's `created`, monotonic update on
    * `updated`. */
  lazy val stripeChargeV1: ReplicatorSpec = ReplicatorSpec(
    name = "stripe_charge_v1",
    remoteKeyCol = "stripe_id",
    columns = Seq(
      ColumnSpec("stripe_id", StringType, Seq("id")),
      ColumnSpec("amount", LongType, Seq("amount")),
      ColumnSpec("balance_transaction", StringType, Seq("balance_transaction")),
      ColumnSpec("billing_email", StringType, Seq("billing_details", "email")),
      ColumnSpec("created", TimestampType, Seq("created"), convert = Converters.unixTs),
      ColumnSpec("customer", StringType, Seq("customer")),
      ColumnSpec("invoice", StringType, Seq("invoice")),
      ColumnSpec("payment_type", StringType, Seq("payment_method_details", "type")),
      ColumnSpec("receipt_email", StringType, Seq("receipt_email")),
      ColumnSpec("status", StringType, Seq("status")),
      ColumnSpec("updated", TimestampType, Seq("created"), eventKey = Seq("created"),
        convert = Converters.unixTs)),
    timestampCol = Some("updated"),
    versionCol = Some("updated"),
    eventPred = body => get_json_object(body, "$.object") === "event",
    resourcePath = Seq("data", "object"))

  /** `stripe_customer_v1` (`lib/webhookdb/replicator/stripe_customer_v1.rb`). */
  lazy val stripeCustomerV1: ReplicatorSpec = stripeSpec("stripe_customer_v1", Seq(
    ColumnSpec("balance", LongType, Seq("balance")),
    ColumnSpec("created", TimestampType, Seq("created"), eventKey = Seq("created"),
      convert = Converters.unixTs),
    ColumnSpec("email", StringType, Seq("email")),
    ColumnSpec("name", StringType, Seq("name")),
    ColumnSpec("phone", StringType, Seq("phone"))))

  /** `stripe_refund_v1` (`lib/webhookdb/replicator/stripe_refund_v1.rb`). */
  lazy val stripeRefundV1: ReplicatorSpec = stripeSpec("stripe_refund_v1", Seq(
    ColumnSpec("amount", LongType, Seq("amount")),
    ColumnSpec("balance_transaction", StringType, Seq("balance_transaction")),
    ColumnSpec("charge", StringType, Seq("charge")),
    ColumnSpec("created", TimestampType, Seq("created"), convert = Converters.unixTs),
    ColumnSpec("payment_intent", StringType, Seq("payment_intent")),
    ColumnSpec("receipt_number", StringType, Seq("receipt_number")),
    ColumnSpec("status", StringType, Seq("status"))))

  /** `twilio_sms_v1` (`lib/webhookdb/replicator/twilio_sms_v1.rb`): RFC2822
    * timestamps via free-form parse, watermark `date_updated`. */
  lazy val twilioSmsV1: ReplicatorSpec = ReplicatorSpec(
    name = "twilio_sms_v1",
    remoteKeyCol = "twilio_id",
    columns = Seq(
      ColumnSpec("twilio_id", StringType, Seq("sid")),
      ColumnSpec("date_created", TimestampType, Seq("date_created"), convert = Converters.parseTime),
      ColumnSpec("date_sent", TimestampType, Seq("date_sent"), convert = Converters.parseTime),
      ColumnSpec("date_updated", TimestampType, Seq("date_updated"), convert = Converters.parseTime),
      ColumnSpec("direction", StringType, Seq("direction")),
      ColumnSpec("from", StringType, Seq("from")),
      ColumnSpec("status", StringType, Seq("status")),
      ColumnSpec("to", StringType, Seq("to"))),
    timestampCol = Some("date_updated"),
    versionCol = Some("date_updated"))

  /** `github_issue_v1` (`lib/webhookdb/replicator/github_issue_v1.rb`):
    * nested digs, BIGINT array plucks from label/assignee objects. */
  lazy val githubIssueV1: ReplicatorSpec = ReplicatorSpec(
    name = "github_issue_v1",
    remoteKeyCol = "github_id",
    columns = Seq(
      ColumnSpec("github_id", LongType, Seq("id")),
      ColumnSpec("node_id", StringType, Seq("node_id")),
      ColumnSpec("number", LongType, Seq("number")),
      ColumnSpec("state", StringType, Seq("state")),
      ColumnSpec("user_id", LongType, Seq("user", "id")),
      ColumnSpec("closed_by_id", LongType, Seq("closed_by", "id")),
      ColumnSpec("assignee_ids", ArrayType(LongType), Seq("assignees"),
        convert = c => Converters.arrayPluck(c, "id", LongType)),
      ColumnSpec("milestone_number", LongType, Seq("milestone", "number")),
      ColumnSpec("label_ids", ArrayType(LongType), Seq("labels"),
        convert = c => Converters.arrayPluck(c, "id", LongType)),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime),
      ColumnSpec("closed_at", TimestampType, Seq("closed_at"), convert = Converters.parseTime),
      ColumnSpec("updated_at", TimestampType, Seq("updated_at"), convert = Converters.parseTime)),
    timestampCol = Some("updated_at"),
    versionCol = Some("updated_at"))

  /** `intercom_contact_v1` (`lib/webhookdb/replicator/intercom_contact_v1.rb`):
    * delete/archive webhooks carry partial payloads — skip-nil keeps the
    * existing values while stamping deleted_at/archived_at. */
  lazy val intercomContactV1: ReplicatorSpec = ReplicatorSpec(
    name = "intercom_contact_v1",
    remoteKeyCol = "intercom_id",
    columns = Seq(
      ColumnSpec("intercom_id", StringType, Seq("id")),
      ColumnSpec("external_id", StringType, Seq("external_id"), skipNil = true),
      ColumnSpec("email", StringType, Seq("email"), skipNil = true),
      ColumnSpec("created_at", TimestampType, Seq("created_at"),
        convert = Converters.unixTs, skipNil = true),
      ColumnSpec("updated_at", TimestampType, Seq("updated_at"),
        convert = Converters.unixTs, skipNil = true),
      ColumnSpec("deleted_at", TimestampType, Seq("deleted_at"),
        convert = Converters.unixTs, skipNil = true),
      ColumnSpec("archived_at", TimestampType, Seq("archived_at"),
        convert = Converters.unixTs, skipNil = true)),
    timestampCol = Some("updated_at"))

  /** `email_octopus_contact_v1`
    * (`lib/webhookdb/replicator/email_octopus_contact_v1.rb`): compound
    * remote key `{list_id}-{id}`, set-once created_at via skip-nil, row
    * timestamp defaulter. */
  lazy val emailOctopusContactV1: ReplicatorSpec = ReplicatorSpec(
    name = "email_octopus_contact_v1",
    remoteKeyCol = "compound_identity",
    columns = Seq(
      ColumnSpec("compound_identity", StringType, Seq("id"),
        resourceExpr = Some(r => Converters.compoundKey(
          get_json_object(r, "$.list_id"), get_json_object(r, "$.id")))),
      ColumnSpec("email_octopus_id", StringType, Seq("id")),
      ColumnSpec("email_octopus_list_id", StringType, Seq("list_id")),
      ColumnSpec("email_address", StringType, Seq("email_address")),
      ColumnSpec("status", StringType, Seq("status")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"),
        convert = Converters.parseTime, skipNil = true),
      ColumnSpec("deleted_at", TimestampType, Seq("deleted_at"),
        convert = Converters.parseTime),
      ColumnSpec("row_updated_at", TimestampType, Seq("row_updated_at"),
        defaulter = Some(Converters.defaultNow))),
    timestampCol = Some("row_updated_at"))

  /** `github_release_v1` (`lib/webhookdb/replicator/github_release_v1.rb`):
    * row_updated_at defaulter, nested author dig. */
  lazy val githubReleaseV1: ReplicatorSpec = ReplicatorSpec(
    name = "github_release_v1",
    remoteKeyCol = "github_id",
    columns = Seq(
      ColumnSpec("github_id", LongType, Seq("id")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime),
      ColumnSpec("published_at", TimestampType, Seq("published_at"), convert = Converters.parseTime),
      ColumnSpec("row_updated_at", TimestampType, Seq("row_updated_at"),
        defaulter = Some(Converters.defaultNow)),
      ColumnSpec("node_id", StringType, Seq("node_id")),
      ColumnSpec("tag_name", StringType, Seq("tag_name")),
      ColumnSpec("author_id", LongType, Seq("author", "id"))),
    timestampCol = Some("row_updated_at"))

  /** `front_message_v1` (`lib/webhookdb/replicator/front_message_v1.rb`):
    * the resource lives at `payload.target.data` inside the delivery
    * envelope; the conversation id comes from the EVENT envelope. */
  lazy val frontMessageV1: ReplicatorSpec = ReplicatorSpec(
    name = "front_message_v1",
    remoteKeyCol = "front_id",
    columns = Seq(
      ColumnSpec("front_id", StringType, Seq("id")),
      ColumnSpec("type", StringType, Seq("type")),
      ColumnSpec("front_conversation_id", StringType, Seq("conversation", "id"),
        eventKey = Seq("payload", "conversation", "id")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"),
        convert = Converters.unixTs)),
    timestampCol = Some("created_at"),
    eventPred = body => get_json_object(body, "$.payload.target.data.id").isNotNull,
    resourcePath = Seq("payload", "target", "data"))

  /** `increase_account_v1` (`lib/webhookdb/replicator/increase_account_v1.rb`). */
  lazy val increaseAccountV1: ReplicatorSpec = ReplicatorSpec(
    name = "increase_account_v1",
    remoteKeyCol = "increase_id",
    columns = Seq(
      ColumnSpec("increase_id", StringType, Seq("id")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime),
      ColumnSpec("updated_at", TimestampType, Seq("updated_at"), convert = Converters.parseTime),
      ColumnSpec("name", StringType, Seq("name")),
      ColumnSpec("entity_id", StringType, Seq("entity_id")),
      ColumnSpec("status", StringType, Seq("status")),
      ColumnSpec("interest_accrued", DecimalType(24, 10), Seq("interest_accrued"))),
    timestampCol = Some("updated_at"))

  /** `convertkit_subscriber_v1`
    * (`lib/webhookdb/replicator/convertkit_subscriber_v1.rb:121-132`):
    * nested custom-field dig (`fields.last_name`). */
  lazy val convertkitSubscriberV1: ReplicatorSpec = ReplicatorSpec(
    name = "convertkit_subscriber_v1",
    remoteKeyCol = "convertkit_id",
    columns = Seq(
      ColumnSpec("convertkit_id", LongType, Seq("id")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime),
      ColumnSpec("email_address", StringType, Seq("email_address")),
      ColumnSpec("first_name", StringType, Seq("first_name")),
      ColumnSpec("last_name", StringType, Seq("fields", "last_name")),
      ColumnSpec("state", StringType, Seq("state"))),
    timestampCol = Some("created_at"))

  /** `github_pull_v1` (`lib/webhookdb/replicator/github_pull_v1.rb`). */
  lazy val githubPullV1: ReplicatorSpec = ReplicatorSpec(
    name = "github_pull_v1",
    remoteKeyCol = "github_id",
    columns = Seq(
      ColumnSpec("github_id", LongType, Seq("id")),
      ColumnSpec("number", LongType, Seq("number")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime),
      ColumnSpec("updated_at", TimestampType, Seq("updated_at"), convert = Converters.parseTime),
      ColumnSpec("closed_at", TimestampType, Seq("closed_at"), convert = Converters.parseTime),
      ColumnSpec("merged_at", TimestampType, Seq("merged_at"), convert = Converters.parseTime),
      ColumnSpec("state", StringType, Seq("state")),
      ColumnSpec("user_id", LongType, Seq("user", "id")),
      ColumnSpec("node_id", StringType, Seq("node_id"))),
    timestampCol = Some("updated_at"),
    versionCol = Some("updated_at"))

  /** `increase_transaction_v1`
    * (`lib/webhookdb/replicator/increase_transaction_v1.rb`): legacy `date`
    * column derived from created_at. */
  lazy val increaseTransactionV1: ReplicatorSpec = ReplicatorSpec(
    name = "increase_transaction_v1",
    remoteKeyCol = "increase_id",
    columns = Seq(
      ColumnSpec("increase_id", StringType, Seq("id")),
      ColumnSpec("account_id", StringType, Seq("account_id")),
      ColumnSpec("amount", LongType, Seq("amount")),
      ColumnSpec("created_at", TimestampType, Seq("created_at"), convert = Converters.parseTime),
      ColumnSpec("updated_at", TimestampType, Seq("updated_at"), convert = Converters.parseTime),
      ColumnSpec("date", DateType, Seq("created_at"),
        convert = c => Converters.toUtcDate(Converters.parseTime(c))),
      ColumnSpec("route_id", StringType, Seq("route_id"))),
    timestampCol = Some("updated_at"))

  /** `email_octopus_event_v1`
    * (`lib/webhookdb/replicator/email_octopus_event_v1.rb:21-45`): synthetic
    * md5 remote key over (occurred_at, type, contact, campaign). */
  lazy val emailOctopusEventV1: ReplicatorSpec = ReplicatorSpec(
    name = "email_octopus_event_v1",
    remoteKeyCol = "unique_id",
    columns = Seq(
      ColumnSpec("unique_id", StringType, Seq("unique_id"),
        resourceExpr = Some(r => md5(concat(
          get_json_object(r, "$.occurred_at"),
          get_json_object(r, "$.event_type"),
          get_json_object(r, "$.contact.id"),
          coalesce(get_json_object(r, "$.campaign_id"), lit("missing")))))),
      ColumnSpec("email_octopus_contact_id", StringType, Seq("contact", "id")),
      ColumnSpec("contact_email_address", StringType, Seq("contact", "email_address")),
      ColumnSpec("email_octopus_campaign_id", StringType, Seq("campaign_id")),
      ColumnSpec("event_type", StringType, Seq("event_type")),
      ColumnSpec("occurred_at", TimestampType, Seq("occurred_at"),
        convert = Converters.parseTime)),
    timestampCol = Some("occurred_at"))

  /** `sponsy_slot_v1` (`lib/webhookdb/replicator/sponsy_slot_v1.rb:23-32`). */
  lazy val sponsySlotV1: ReplicatorSpec = ReplicatorSpec(
    name = "sponsy_slot_v1",
    remoteKeyCol = "sponsy_id",
    columns = Seq(
      ColumnSpec("sponsy_id", StringType, Seq("id")),
      ColumnSpec("publication_id", StringType, Seq("publication_id")),
      ColumnSpec("date", DateType, Seq("date"), convert = Converters.parseDate),
      ColumnSpec("notes", StringType, Seq("notes")),
      ColumnSpec("created_at", TimestampType, Seq("createdAt"), convert = Converters.parseTime),
      ColumnSpec("updated_at", TimestampType, Seq("updatedAt"), convert = Converters.parseTime)),
    timestampCol = Some("updated_at"),
    versionCol = Some("updated_at"))

  /** `transistor_episode_stats_v1`
    * (`lib/webhookdb/replicator/transistor_episode_stats_v1.rb:23-67`):
    * compound remote key `"{episode_id}-{date}"`, dd-MM-yyyy date parse,
    * update only when downloads changed. */
  lazy val transistorEpisodeStatsV1: ReplicatorSpec = ReplicatorSpec(
    name = "transistor_episode_stats_v1",
    remoteKeyCol = "compound_identity",
    columns = Seq(
      ColumnSpec("compound_identity", StringType, Seq("episode_id", "date"),
        resourceExpr = Some(r => Converters.compoundKey(
          get_json_object(r, "$.episode_id"),
          Converters.strpdate(get_json_object(r, "$.date"), "dd-MM-yyyy")))),
      ColumnSpec("episode_id", StringType, Seq("episode_id")),
      ColumnSpec("date", DateType, Seq("date"),
        convert = c => Converters.strpdate(c, "dd-MM-yyyy")),
      ColumnSpec("downloads", LongType, Seq("downloads"))),
    timestampCol = Some("date"),
    updateWhere = (t, s) => !(t("downloads") <=> s("downloads")))

  /** `atom_single_feed_v1` (`lib/webhookdb/replicator/atom_single_feed_v1.rb:21-63`):
    * set-once `row_created_at`, geo point split from "lat lng"
    * (space-separated, `converter_array_element`). */
  lazy val atomSingleFeedV1: ReplicatorSpec = ReplicatorSpec(
    name = "atom_single_feed_v1",
    remoteKeyCol = "entry_id",
    columns = Seq(
      ColumnSpec("entry_id", StringType, Seq("id")),
      ColumnSpec("row_created_at", TimestampType, Seq("updated"),
        convert = Converters.parseTime, setOnce = true),
      ColumnSpec("updated", TimestampType, Seq("updated"), convert = Converters.parseTime),
      ColumnSpec("published", TimestampType, Seq("published"), convert = Converters.parseTime),
      ColumnSpec("title", StringType, Seq("title")),
      ColumnSpec("geo_lat", DecimalType(12, 6), Seq("georss:point"),
        convert = c => Converters.arrayElement(c, " ", 0, DecimalType(12, 6))),
      ColumnSpec("geo_lng", DecimalType(12, 6), Seq("georss:point"),
        convert = c => Converters.arrayElement(c, " ", 1, DecimalType(12, 6)))),
    timestampCol = Some("updated"),
    updateWhere = (t, s) => !(t("data") <=> s("data")))
}
