"""GA360 BigQuery-export sessions -> Mixpanel events/profiles.

Re-expresses reference transform/gaToMixpanel.js over typed session rows
(schemas.GA_SESSION_SCHEMA):

  * per session: a 'session begins' event at visitStartTime*1000 (:144-154),
    one event per hits[] element at start+hit.time (0 offset bumped +1000ms,
    :169-175), and a 'session ends' event at last-hit-time+1000 (:266-280;
    sessions with no hits end at start+1000).
  * event name resolution :181-195: eventAction unless 'na'/'' ->
    eventCategory -> hit.type.
  * default props (mapDefaults :303-386): device (11 pairs), location
    (8 pairs), attribution (9 pairs), lat/long hoist, UTM Channel —
    attached to every event and to the per-session profile (:101-127).
  * custom dimensions/metrics/variables :228-239: '<prefix> #<index>
    (<eventName>)' keys, skipping 'na'/'' values.
  * $insert_id on every event (:283-287) — canonical md5 (pinned fields),
    not JSON-stringify (see transforms.amplitude docstring).
  * move-to-present (:290-298): offset = anchor - TRUE max time - 4 days.
    The reference anchors on the last array element — a flagged bug we fix
    (SURVEY.md §7); anchor passed in for determinism.

Physical shape: session-level prep is one narrow projection; hits explode
is the only row-multiplying operator; begins/ends are projections unioned
by name. No shuffle at all unless move_to_present (one broadcast of a
1-row aggregate). Nested-array work (custom dims) stays in higher-order
functions — no Python.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tomixpanel_spark.functions.canonical import canonical_insert_id

SOURCE_TAG = "ga360toMixpanel (by AK)"

# reference gaToMixpanel.js:308-320
GA_DEVICE_PAIRS = (
    ("browser", "$browser"),
    ("browserSize", "screen size"),
    ("browserVersion", "$browser_version"),
    ("deviceCategory", "device type"),
    ("mobileDeviceInfo", "$device"),
    ("mobileDeviceModel", "$model"),
    ("operatingSystem", "$os"),
    ("operatingSystemVersion", "$os_version"),
    ("mobileDeviceBranding", "$brand"),
    ("language", "language"),
    ("screenResolution", "screen size"),
)
# reference gaToMixpanel.js:323-332
GA_LOCATION_PAIRS = (
    ("continent", "continent"),
    ("subContinent", "sub continent"),
    ("country", "mp_country_code"),
    ("region", "$region"),
    ("metro", "dma"),
    ("city", "$city"),
    ("latitude", "$latitude"),
    ("longitude", "$longitude"),
)
# reference gaToMixpanel.js:335-345
GA_ATTRIBUTION_PAIRS = (
    ("adContent", "utm_content"),
    ("campaign", "utm_campaign"),
    ("campaignCode", "utm_term"),
    ("isTrueDirect", "is true direct?"),
    ("keyword", "utm_keyword"),
    ("medium", "utm_medium"),
    ("referralPath", "$referrer"),
    ("source", "utm_source"),
)

FOUR_DAYS_MS = 345_600 * 1000  # reference gaToMixpanel.js:294


def _truthy(c: Column) -> Column:
    return c.isNotNull() & (c.cast("string") != "") & (c.cast("string") != "false")


def _entry(k: str, v: Column) -> Column:
    return F.struct(F.lit(k).alias("key"), v.cast("string").alias("value"))


def _entry_array(pairs: list[tuple[str, Column]]) -> Column:
    return F.array(*[_entry(k, v) for k, v in pairs])


def _keep_truthy(entries: Column) -> Column:
    """One filter pass drops JS-falsy values (the reference's truthy gate)
    — the value is already stringified in the entry struct, so the check
    costs one comparison chain per entry instead of the per-pair
    when(cast, cast) tower the round-3 bench flagged."""
    return F.filter(
        entries,
        lambda e: e["value"].isNotNull() & (e["value"] != "") & (e["value"] != "false"),
    )


def _opt_entries(pairs: list[tuple[str, Column]]) -> Column:
    return F.map_from_entries(_keep_truthy(_entry_array(pairs)))


def _uuid() -> Column:
    """userId || fullVisitorId || visitorId || client_id || visitId || ''
    (reference :111,135)."""
    return F.coalesce(
        *[
            F.nullif(F.col(c), F.lit(""))
            for c in ("userId", "fullVisitorId", "visitorId", "client_id", "visitId")
        ],
        F.lit(""),
    )


@lru_cache(maxsize=1)
def _default_entries() -> Column:
    """mapDefaults(session) as a filtered ENTRY ARRAY: device + location +
    attribution pairs, UTM Channel. Kept in array form so downstream
    assembly can concat it without a map->entries round trip; filtered
    HERE, once per session, not per exploded hit."""
    pairs = (
        [(dst, F.col(f"device.{src}")) for src, dst in GA_DEVICE_PAIRS]
        + [(dst, F.col(f"geoNetwork.{src}")) for src, dst in GA_LOCATION_PAIRS]
        + [(dst, F.col(f"trafficSource.{src}")) for src, dst in GA_ATTRIBUTION_PAIRS]
        + [("UTM Channel", F.col("channelGrouping"))]
    )
    return _keep_truthy(_entry_array(pairs))


def _default_props() -> Column:
    """mapDefaults(session): lat/long hoist handled at the profile level."""
    return F.map_from_entries(_default_entries())


def _session_base(df: DataFrame) -> DataFrame:
    """Per-session narrow prep: identity, start time, default props,
    summary JSON, hits array carried through."""
    return df.select(*_session_base_columns())


@lru_cache(maxsize=1)
def _session_base_columns() -> tuple:
    """Constant expression trees over fixed session column names —
    memoized per process; rebuilding them is pure py4j round-trip cost."""
    return (
        _uuid().alias("distinct_id"),
        (F.col("visitStartTime").cast("bigint") * 1000).alias("start_ms"),
        _default_entries().alias("defaults"),
        F.to_json("totals").alias("summary"),
        F.col("hits"),
    )


@lru_cache(maxsize=1)
def _boundary_props() -> Column:
    return F.map_from_entries(
        F.concat(
            _keep_truthy(
                _entry_array([("summary", F.col("summary")), ("$source", F.lit(SOURCE_TAG))])
            ),
            F.col("defaults"),
        )
    )


@lru_cache(maxsize=1)
def _last_hit_end_ms() -> Column:
    """Running endTime after the hit loop == last array element's event
    time (reference :178,266-280); sessions without hits end at start."""
    last = F.element_at("hits", -1)
    last_t = last["time"].cast("bigint")
    return F.when(
        F.size("hits") > 0,
        F.col("start_ms") + F.when(last_t == 0, 1000).otherwise(last_t),
    ).otherwise(F.col("start_ms"))


# Hit subfields the per-hit projection actually consumes. The full
# gaSchema.json hit record carries 9 more (hitNumber/hour/minute/appInfo/
# contentGroup/eCommerceAction/exceptionInfo/experiment/publisher_infos) —
# pre-projecting to the consumed set BEFORE the explode means the row
# multiplier copies slim structs and Tungsten never materializes the
# unconsumed fields per event. page is pruned one level deeper (3 of its
# 7 fields are consumed).
_CONSUMED_HIT_FIELDS = (
    "time",
    "type",
    "referer",
    "isEntrance",
    "isExit",
    "isInteraction",
    "eventInfo",
    "product",
    "promotion",
    "transaction",
    "social",
    "customDimensions",
    "customMetrics",
    "customVariables",
)


@lru_cache(maxsize=1)
def _slim_hits() -> Column:
    def slim(h: Column) -> Column:
        page = F.struct(
            h["page"]["pagePath"].alias("pagePath"),
            h["page"]["hostname"].alias("hostname"),
            h["page"]["pageTitle"].alias("pageTitle"),
        )
        return F.struct(
            *[h[f].alias(f) for f in _CONSUMED_HIT_FIELDS], page.alias("page")
        )

    return F.transform("hits", slim)


def _hit_event_struct(hit: Column) -> Column:
    """struct(event, time_ms, props) for one (slimmed) hit — parametrized
    over the hit expression so the SAME tree runs under ``F.transform``
    in the fused single-pass plan (``start_ms`` resolves from the outer
    session row; lambdas see enclosing attributes)."""
    t = hit["time"].cast("bigint")
    time_ms = F.col("start_ms") + F.when(t == 0, 1000).otherwise(t)

    # reference :181-195: the try/catch means a NULL eventAction (where
    # .toLowerCase() throws) falls through to hit.type, not eventCategory;
    # only a present-but-'na'/'' action picks eventCategory. A still-null
    # resolved name coalesces to a sentinel (the reference would emit the
    # JS-stringified 'undefined'; we keep the event typed and non-null).
    action = hit["eventInfo"]["eventAction"]
    name = (
        F.when(
            hit["eventInfo"].isNull() | action.isNull(), hit["type"]
        )
        .when((F.lower(action) != "na") & (action != ""), action)
        .otherwise(hit["eventInfo"]["eventCategory"])
    )
    name = F.coalesce(name, F.lit("unknown event"))

    def custom(prefix: str, field: str) -> Column:
        """'<prefix> #<index> (<eventName>)' entry array, skipping na/''
        values (reference :228-239)."""
        arr = F.coalesce(
            hit[field], F.array().cast("array<struct<index:string,value:string>>")
        )
        return F.transform(
            F.filter(
                arr,
                lambda d: d["value"].isNotNull()
                & (F.lower(d["value"]) != "na")
                & (d["value"] != ""),
            ),
            lambda d: F.struct(
                F.concat(
                    F.lit(f"{prefix} #"), d["index"], F.lit(" ("), name, F.lit(")")
                ).alias("key"),
                d["value"].alias("value"),
            ),
        )

    def flat(field: str) -> Column:
        return F.map_entries(
            F.coalesce(hit[field], F.create_map().cast("map<string,string>"))
        )

    # ONE map build per hit: entry arrays concatenate in the reference's
    # spread order (later keys win under LAST_WIN, exactly like the
    # map_concat tower this replaces) and the truthy gate runs as a single
    # filter pass per group instead of per-pair when() towers. transaction/
    # social spread in UNfiltered, as the reference does.
    opt_hit = _keep_truthy(
        _entry_array(
            [
                ("$referrer", hit["referer"]),
                ("isEntrance", hit["isEntrance"]),
                ("isExit", hit["isExit"]),
                ("isInteraction", hit["isInteraction"]),
                ("products", F.to_json(hit["product"])),
                ("promotions", F.to_json(hit["promotion"])),
            ]
        )
    )
    opt_page_event = _keep_truthy(
        _entry_array(
            [
                ("pagePath", hit["page"]["pagePath"]),
                ("hostname", hit["page"]["hostname"]),
                ("pageTitle", hit["page"]["pageTitle"]),
                ("eventCategory", hit["eventInfo"]["eventCategory"]),
                ("eventAction", hit["eventInfo"]["eventAction"]),
                ("eventLabel", hit["eventInfo"]["eventLabel"]),
            ]
        )
    )
    props = F.map_from_entries(
        F.concat(
            F.array(_entry("$source", F.lit(SOURCE_TAG))),
            F.col("defaults"),
            opt_hit,
            flat("transaction"),
            flat("social"),
            opt_page_event,
            custom("variable", "customVariables"),
            custom("dimension", "customDimensions"),
            custom("metric", "customMetrics"),
        )
    )
    return F.struct(
        name.alias("event"), time_ms.alias("time_ms"), props.alias("props")
    )


@lru_cache(maxsize=1)
def _event_rows() -> Column:
    """The per-session event array: [begin] ++ per-hit structs ++ [end],
    each element struct(event, time_ms, props). Building all three row
    kinds inside ONE array means the session prep (identity, defaults,
    summary) is scanned and evaluated ONCE per session — the previous
    union-of-three-selects shape re-ran the scan and prep per branch
    (A/B at sf0.1: exec 0.70 s -> 0.42 s). Constant tree; memoized."""
    bp = _boundary_props()
    begin = F.struct(
        F.lit("session begins").alias("event"),
        F.col("start_ms").alias("time_ms"),
        bp.alias("props"),
    )
    end = F.struct(
        F.lit("session ends").alias("event"),
        (_last_hit_end_ms() + 1000).alias("time_ms"),
        bp.alias("props"),
    )
    return F.concat(
        F.array(begin), F.transform(_slim_hits(), _hit_event_struct), F.array(end)
    )


@lru_cache(maxsize=1)
def _exploded_event_columns() -> tuple:
    return (F.col("distinct_id"), F.explode(_event_rows()).alias("ev"))


@lru_cache(maxsize=1)
def _event_final_columns() -> tuple:
    """Final event projection built directly off the exploded ``ev``
    attribute in ONE select. The previous rename-select -> withColumn ->
    reorder-select chain analyzed the (very deep) event-array plan three
    more times per build — each DataFrame method runs the analyzer
    eagerly, and after the explode every reference here is a shallow
    GetStructField off the resolved ``ev`` attribute, so folding the
    three projections into one loses nothing and skips two full analyzer
    passes. ``insert_id`` reads the PRE-shift time_ms exactly like the
    old withColumn did (move_to_present shifts afterwards)."""
    ev = F.col("ev")
    insert_id = canonical_insert_id(
        ev["event"],
        F.col("distinct_id"),
        ev["time_ms"],
        F.md5(F.to_json(F.sort_array(F.map_entries(ev["props"])))),
    )
    return (
        ev["event"].alias("event"),
        F.col("distinct_id"),
        ev["time_ms"].alias("time_ms"),
        insert_id.alias("insert_id"),
        ev["props"].alias("props"),
    )


def ga_events(
    df: DataFrame,
    move_to_present: bool = False,
    anchor_now_ms: int | None = None,
) -> DataFrame:
    """Sessions -> full event stream (begins + hits + ends), $insert_id on
    every row; optional move-to-present shift."""
    base = _session_base(df)
    events = base.select(*_exploded_event_columns()).select(*_event_final_columns())
    if move_to_present:
        if anchor_now_ms is None:
            raise ValueError("anchor_now_ms required for deterministic move_to_present")
        mx = events.agg(F.max("time_ms").alias("max_ms"))
        events = events.crossJoin(F.broadcast(mx)).withColumn(
            "time_ms",
            F.col("time_ms") + F.lit(anchor_now_ms) - F.col("max_ms") - F.lit(FOUR_DAYS_MS),
        ).drop("max_ms")
        return events.select("event", "distinct_id", "time_ms", "insert_id", "props")
    return events


def ga_profiles(df: DataFrame, token: str | None = None) -> DataFrame:
    """One $set profile per session (reference mapUserProfiles :101-127),
    with the lat/long hoist when both are present."""
    defaults = _default_props()
    lat = F.col("geoNetwork.latitude")
    lng = F.col("geoNetwork.longitude")
    both = _truthy(lat) & _truthy(lng)
    return df.select(
        F.lit(token).cast("string").alias("token"),
        _uuid().alias("distinct_id"),
        F.lit(None).cast("string").alias("ip"),
        defaults.alias("set"),
        F.when(both, lat.cast("string")).alias("latitude"),
        F.when(both, lng.cast("string")).alias("longitude"),
    )
