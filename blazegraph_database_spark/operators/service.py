"""SERVICE federation (SURVEY.md §2.3).

Reference analog: the ServiceRegistry / ServiceCall machinery
(bigdata-core/bigdata-rdf/.../sparql/ast/service/ServiceRegistry.java,
RemoteServiceCallImpl.java) that dispatches SERVICE <iri> { ... } groups to
internal services (bds:search, geo:search) or remote SPARQL endpoints.

Spark-first: a service is a callable (spark, params) -> DataFrame of
bindings; the registry maps service IRIs to callables. The built-in
services wrap this engine's own operators — full-text (bds:search),
geospatial (geo:search), and graph analytics (gas:service) — the same
internal services the reference ships. Remote endpoints speak the SPARQL
1.1 Protocol over HTTP: ``http_transport`` POSTs the serialized query as a
form body and parses application/sparql-results+json responses
(``parse_srj``); bindings are pushed down as chunked VALUES blocks — the
reference's vectored remote SERVICE evaluation. The transport is
injectable, so the protocol layer is conformance-tested against this
repo's own localhost REST endpoint and against stored protocol fixtures
without needing outside network access.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from urllib.parse import urlencode

from pyspark.sql import DataFrame, SparkSession

ServiceFn = Callable[[SparkSession, dict], DataFrame]

_REGISTRY: dict[str, ServiceFn] = {}


def register_service(iri: str, fn: ServiceFn) -> None:
    _REGISTRY[iri] = fn


_SERVICE_ALIASES: dict[str, str] = {}


def register_service_alias(alias: str, target: str) -> None:
    """Register ``alias`` to resolve to ``target`` at SERVICE dispatch
    (ref: ServiceRegistry.addAlias — it is expressly permitted to alias a
    URI with no registered factory; resolution happens at call time)."""
    _SERVICE_ALIASES[alias] = target


def resolve_service_alias(iri: str) -> str:
    """Follow the alias chain (cycle-safe) to the effective service IRI."""
    seen: set[str] = set()
    while iri in _SERVICE_ALIASES and iri not in seen:
        seen.add(iri)
        iri = _SERVICE_ALIASES[iri]
    return iri


def lookup(iri: str) -> ServiceFn:
    if iri not in _REGISTRY:
        raise KeyError(f"no service registered for <{iri}>")
    return _REGISTRY[iri]


def call_service(spark: SparkSession, iri: str, params: dict) -> DataFrame:
    """Evaluate SERVICE <iri> with keyword params → bindings DataFrame."""
    return lookup(iri)(spark, params)


# ------------------------------------------------------- built-in services --
def _bds_search(spark: SparkSession, params: dict) -> DataFrame:
    """bds:search analog: params = {index | df+id_col+text_col, query,
    match_all?, min_relevance_ppm?, max_rank?}."""
    from blazegraph_database_spark.operators import fulltext

    idx = params.get("index")
    if idx is None:
        idx = fulltext.inverted_index(
            params["df"], params.get("id_col", "doc_id"), params.get("text_col", "text")
        )
    patterns = [(t, t.endswith("*")) for t in params["query"].split()]
    patterns = [(t.rstrip("*"), pre) for t, pre in patterns]
    return fulltext.search(
        idx,
        patterns,
        match_all=params.get("match_all", False),
        min_relevance_ppm=params.get("min_relevance_ppm", 0),
        max_rank=params.get("max_rank", 20),
    )


def _geo_search(spark: SparkSession, params: dict) -> DataFrame:
    """geo:search analog: params = {df, shape: rect|circle, bounds...}."""
    from blazegraph_database_spark.operators import geospatial

    df = params["df"]
    if params.get("shape", "rect") == "rect":
        return geospatial.in_rectangle(
            df, params["lat0"], params["lat1"], params["lon0"], params["lon1"]
        )
    return geospatial.in_circle(df, params["lat"], params["lon"], params["radius_km"])


# ------------------------------------------------------------ GAS service --
GAS_NS = "http://www.bigdata.com/rdf/gas#"


def _ns_local(iri: str | None, ns: str, prefix: str) -> str | None:
    """Local name of a vocabulary IRI in either its full-namespace or
    compact prefixed form (queries may or may not declare the prefix)."""
    if iri is None:
        return None
    if iri.startswith(ns):
        return iri[len(ns):]
    if iri.startswith(prefix):
        return iri[len(prefix):]
    return None


def _gas_local(iri: str | None) -> str | None:
    return _ns_local(iri, GAS_NS, "gas:")


def gas_service(store, patterns) -> DataFrame:
    """SERVICE <gas:service> — the GAS-program SERVICE (ref:
    bigdata-core/.../graph/impl/bd/GASService.java Options vocabulary plus
    the analytics' Bindings interfaces). Magic triples
    ``gas:program gas:<option> <value>`` select and parameterize one of the
    graph analytics over the store's statements:

      gas:gasClass  "com.bigdata.rdf.graph.analytics.BFS"  (BFS / SSSP /
                    CC / PR / FuzzySSSP — matched on the trailing name)
      gas:in        <v>    repeatable: the initial frontier
      gas:target    <v>    repeatable: FuzzySSSP target vertices
      gas:linkType  <p>    edge predicate (default: every IRI-object stmt)
      gas:linkAttrType <a> SSSP edge weights via RDR statement metadata
                           (`<<s linkType o>> <a> w`; unannotated -> 1.0)
      gas:traversalDirection "Forward" | "Reverse" | "Undirected"
      gas:maxIterations N  /  gas:maxVisited N
      gas:out ?v           the visited vertex
      gas:out1 / gas:out2  per-program attributes (BFS: depth /
                           predecessor; SSSP: dist; CC: component; PR: rank)

    Attribute columns come back typed (depth int, dist/rank double) — the
    analog of the reference binding numeric IVs. ``gas:maxVisited``
    truncates by (attribute, vertex) order after convergence, which equals
    the reference's traversal cutoff whenever the cap lands on a depth
    boundary."""
    from pyspark.sql import functions as F

    from blazegraph_database_spark.model.terms import Var, const_lex, is_const
    from blazegraph_database_spark.operators import gas

    sources: list[str] = []
    targets: list[str] = []
    outs: dict[str, str] = {}
    opts: dict = {"direction": "Forward"}
    for sp in patterns:
        pred = const_lex(sp.p) if (sp.p is not None and is_const(sp.p)) else None
        local = _gas_local(pred)
        if local is None:
            continue
        if local in ("out", "out1", "out2") and isinstance(sp.o, Var):
            outs[local] = sp.o.name
        elif local == "gasClass":
            opts["cls"] = const_lex(sp.o).rsplit(".", 1)[-1]
        elif local == "in":
            sources.append(const_lex(sp.o))
        elif local == "target":
            targets.append(const_lex(sp.o))
        elif local in ("linkType", "linkAttrType"):
            opts[local] = const_lex(sp.o)
        elif local in ("direction", "traversalDirection"):
            opts["direction"] = const_lex(sp.o)
        elif local in ("maxIterations", "maxVisited"):
            opts[local] = int(const_lex(sp.o))
    cls = opts.get("cls")
    if cls is None or "out" not in outs:
        raise ValueError('SERVICE <gas:service> needs gas:gasClass and gas:out ?var')

    lt = opts.get("linkType")
    if lt is not None:
        src_df = store.pattern_source(lt)
        if src_df is None:
            src_df = store.df.filter(F.col("p") == lt)
    else:  # default graph: every statement whose object is a vertex (IRI)
        src_df = store.df.filter(F.col("o_dt") == "iri")
    edges = src_df.select(F.col("s").alias("src"), F.col("o_lex").alias("dst"))
    lat = opts.get("linkAttrType")
    if lat is not None:
        # link weights through RDR statement metadata (ref: GASService
        # LINK_ATTR_TYPE — the reference resolves link attributes through
        # SIDs): `<<s linkType o>> <attr> w` rows keyed by the edge's sid
        from blazegraph_database_spark.plans.compiler import sid_expr

        sids = src_df.select(
            F.col("s").alias("src"), F.col("o_lex").alias("dst"), sid_expr().alias("_sid")
        )
        # non-numeric annotations ERROR (a silent 1.0 default would mask
        # data damage); multiple annotations per edge collapse to MIN so
        # the join can never duplicate edge rows
        wt = F.when(
            F.col("o_lex").cast("double").isNull(),
            F.raise_error(F.concat(F.lit("non-numeric link attribute: "), F.col("o_lex"))),
        ).otherwise(F.col("o_lex").cast("double"))
        wts = (
            store.df.filter(F.col("p") == lat)
            .select(F.col("s").alias("_sid"), wt.alias("weight"))
            .groupBy("_sid")
            .agg(F.min("weight").alias("weight"))
        )
        edges = (
            sids.join(wts, on="_sid", how="left")
            .select("src", "dst", F.coalesce("weight", F.lit(1.0)).alias("weight"))
        )
    if opts["direction"] == "Reverse":
        flip = [F.col("dst").alias("src"), F.col("src").alias("dst")]
        edges = edges.select(*flip, *(["weight"] if lat is not None else []))
    elif opts["direction"] == "Undirected":
        edges = gas.undirect(edges)  # a link weight rides along

    mi = opts.get("maxIterations")
    if cls == "BFS":
        out = gas.bfs(edges, sources, max_depth=mi if mi else gas.MAX_ITERS)
        attr = {"out1": ("depth", "int"), "out2": ("pred", None)}
        order = ["depth", "node"]
    elif cls == "SSSP":
        weighted = edges if lat is not None else edges.withColumn("weight", F.lit(1.0))
        out = gas.sssp(weighted, sources, max_iters=mi if mi else gas.MAX_ITERS)
        attr = {"out1": ("dist", "double")}
        order = ["dist", "node"]
    elif cls == "CC":
        out = gas.connected_components(edges, max_iters=mi if mi else gas.MAX_ITERS)
        attr = {"out1": ("comp", None)}
        order = ["node"]
    elif cls == "PR":
        out = gas.pagerank(edges, iters=mi if mi else 20)
        attr = {"out1": ("rank", "double")}
        order = ["node"]
    elif cls == "FuzzySSSP":
        verts, _st = gas.fuzzy_sssp(
            edges,
            sources,
            targets,
            n_max=opts.get("maxVisited", 100),
            max_depth=mi if mi else gas.MAX_ITERS,
        )
        out, attr, order = verts, {}, ["node"]
    else:
        raise ValueError(f"unknown gas:gasClass {cls!r}")
    if "maxVisited" in opts and cls != "FuzzySSSP":
        out = out.orderBy(*order).limit(opts["maxVisited"])
    sel = [F.col("node").alias(outs["out"])]
    for slot, (col, cast_to) in attr.items():
        if slot in outs:
            c = F.col(col).cast(cast_to) if cast_to else F.col(col)
            sel.append(c.alias(outs[slot]))
    return out.select(*sel)


# ------------------------------------------------------------ geo service --
GEO_NS = "http://www.bigdata.com/rdf/geospatial#"


def _geo_local(iri: str | None) -> str | None:
    return _ns_local(iri, GEO_NS, "geo:")


GEO_OUT_LOCALS = (
    "latValue", "lonValue", "timeValue", "locationValue",
    "literalValue", "distanceValue", "locationAndTimeValue",
    "coordSystemValue", "customFieldsValues",
)


def geo_param_vars(patterns) -> set[str]:
    """Vars standing in geo:search PARAM positions (not output bindings) —
    these need values from sibling solutions before the service can run
    (ref: GeoSpatialServiceFactory resolves them per incoming binding set;
    fixture ticket_bg1899: geo:spatialCircleCenter ?locationOfMunich)."""
    from blazegraph_database_spark.model.terms import Var, const_lex, is_const

    out: set[str] = set()
    for sp in patterns:
        pred = const_lex(sp.p) if (sp.p is not None and is_const(sp.p)) else None
        local = _geo_local(pred)
        if local is None or local == "search" or local in GEO_OUT_LOCALS:
            continue
        if isinstance(sp.o, Var):
            out.add(sp.o.name)
    return out


_GEO_FIELD_NAMES = {"lat": "lat", "lon": "lon", "time": "t", "coord": "coord"}


def _geo_layout(dtiri: str | None) -> list[str] | str:
    """Component layout of a geospatial datatype's literals (ref:
    GeoSpatialDatatypeConfiguration — deployments declare per-datatype
    field lists; the bundled test datatypes NAME the field order in the
    URI's local name, e.g. <.../time-lat-lon>, <.../x-y-z-lat-lon-time-
    coord>). Returns "wkt" for WKT point literals, else the ordered field
    column names (lat/lon/t/coord or custom names). Default: lat#lon[#t],
    the GeoSpatialDefaultLiteralSerializer layout."""
    if dtiri is None:
        return ["lat", "lon", "t"]
    if dtiri.endswith("wktLiteral"):
        return "wkt"
    local = dtiri.rstrip("/").rsplit("/", 1)[-1].rsplit("#", 1)[-1]
    parts = local.split("-")
    if len(parts) >= 2 and all(re.fullmatch(r"[A-Za-z][A-Za-z0-9_]*", x) for x in parts):
        return [_GEO_FIELD_NAMES.get(x, x) for x in parts]
    return ["lat", "lon", "t"]


def geo_search_service(store, patterns) -> DataFrame:
    """SERVICE <geo:search> — the geospatial SERVICE (ref:
    service/geospatial/GeoSpatial.java magic-predicate vocabulary,
    evaluated by GeoSpatialServiceFactory). The search subject binds
    subjects whose ``geo:predicate`` object is a ``#``-separated
    geospatial literal (``lat#lon[#time]`` — the
    GeoSpatialDefaultLiteralSerializer layout, identical to this repo's
    custom-datatype serializer):

      ?res geo:search "inRectangle" | "inCircle" .
      ?res geo:predicate <p> .
      ?res geo:spatialRectangleSouthWest "lat#lon" .   # inRectangle
      ?res geo:spatialRectangleNorthEast "lat#lon" .
      ?res geo:spatialCircleCenter "lat#lon" .         # inCircle
      ?res geo:spatialCircleRadius "km" .
      ?res geo:timeStart N . / ?res geo:timeEnd N .    # optional 3rd dim
      ?res geo:latValue ?lat . / geo:lonValue ?lon . / geo:timeValue ?t .
      ?res geo:locationValue ?loc . / geo:literalValue ?lit .
      ?res geo:distanceValue ?d .                      # inCircle only
    """
    from pyspark.sql import functions as F

    from blazegraph_database_spark.model.terms import Var, const_lex, is_const
    from blazegraph_database_spark.operators import geospatial

    subj = None
    mode = None
    args: dict = {}
    outs: dict[str, str] = {}
    for sp in patterns:
        pred = const_lex(sp.p) if (sp.p is not None and is_const(sp.p)) else None
        local = _geo_local(pred)
        if local is None:
            continue
        if local == "search":
            subj, mode = sp.s, const_lex(sp.o)
        elif local in GEO_OUT_LOCALS and isinstance(sp.o, Var):
            outs[local] = sp.o.name
        else:
            if subj is None and isinstance(sp.s, Var):
                subj = sp.s  # mode-less search (pure time/coord filtering)
            args[local] = const_lex(sp.o)
    if subj is None or not isinstance(subj, Var) or "predicate" not in args:
        raise ValueError(
            'SERVICE <geo:search> needs `?var geo:search "..."` and geo:predicate'
        )
    src = store.pattern_source(args["predicate"])
    if src is None:
        src = store.df.filter(F.col("p") == args["predicate"])
    if "context" in args:
        # geo:context <g>: scope the search to ONE named graph (ref:
        # GeoSpatial.CONTEXT, quads-mode geospatial search)
        src = src.filter(F.col("g") == args["context"])
    dtiri = args.get("searchDatatype") or getattr(store, "geo_default_datatype", None)
    # a store configured with GEO_SPATIAL_INCLUDE_BUILTIN_DATATYPES=false
    # indexes ONLY its declared datatypes — searching anything else scans
    # an index that was never built (zero hits, not an error)
    whitelist = getattr(store, "geo_datatypes_whitelist", None)
    if whitelist is not None and dtiri not in whitelist:
        empty = [F.lit(None).cast("string").alias(subj.name)] + [
            F.lit(None).cast("string").alias(v) for v in outs.values()
        ]
        return store.spark.range(1).select(*empty).limit(0)
    # store-registered datatype configs declare the field layout explicitly
    # (ref: GeoSpatialDatatypeConfiguration serviceMapping order); the
    # URI-local-name derivation is the fallback for undeclared datatypes
    layout = (getattr(store, "geo_layouts", None) or {}).get(dtiri) or _geo_layout(dtiri)
    if dtiri is not None and "o_dt" in src.columns:
        # geo:searchDatatype scopes the search to ONE datatype's literals
        # (ref: GeoSpatialConfig multi-datatype registration)
        src = src.filter(F.col("o_dt") == f"dt:{dtiri}")
    if layout == "wkt":
        # WKT point serializer (ref: the custom GeoSpatialLiteralSerializer
        # the WKT test registers): "Point(lat,lon)"
        wkt = r"^Point\(\s*(-?[0-9.]+)\s*,\s*(-?[0-9.]+)\s*\)$"
        cols = {
            "lat": F.regexp_extract(F.col("o_lex"), wkt, 1).try_cast("double"),
            "lon": F.regexp_extract(F.col("o_lex"), wkt, 2).try_cast("double"),
        }
    else:
        # registered literal serializer's wire format wins over the default
        # '#'-separated form (ref: IGeoSpatialLiteralSerializer.toComponents)
        ser = geospatial.geo_literal_serializer(dtiri)
        if ser is not None and ser.to_components is not None:
            comps = ser.to_components(F.col("o_lex"), len(layout))
        else:
            parts = F.split(F.col("o_lex"), "#")
            comps = [parts.getItem(i) for i in range(len(layout))]
        # per-field value types from the registered config when present
        # (a LONG custom field like an epoch 'starttime' must extract as
        # an integer, not a double's 1.37E9 rendering); heuristic
        # fallback: t/coord are LONG, everything else DOUBLE
        fspecs = (getattr(store, "geo_configs", None) or {}).get(dtiri)

        def _ftype(i: int, name: str) -> str:
            if fspecs is not None and i < len(fspecs):
                return "long" if fspecs[i].value_type == "LONG" else "double"
            return "long" if name in ("t", "coord") else "double"

        cols = {
            name: comps[i].try_cast(_ftype(i, name))
            for i, name in enumerate(layout)
        }
    sel_cols = [F.col("s"), F.col("o_lex")] + [
        c.alias(f"__f_{n}") for n, c in cols.items()
    ]
    df = src.select(*sel_cols)
    for n in cols:
        df = df.withColumnRenamed(f"__f_{n}", n)
    if "lat" not in cols:
        df = df.withColumn("lat", F.lit(None).cast("double"))
    if "lon" not in cols:
        df = df.withColumn("lon", F.lit(None).cast("double"))
    if "t" not in cols:
        df = df.withColumn("t", F.lit(None).cast("long"))
    def _pair(val: str) -> tuple[float, float]:
        # corner/center constants accept both serializations: the default
        # "lat#lon" and the WKT "Point(lat,lon)" (bounds may come from
        # DATA via variable params — geo-wktliteral07)
        m = re.match(r"^\s*Point\(\s*(-?[0-9.]+)\s*,\s*(-?[0-9.]+)\s*\)\s*$", val)
        if m:
            return float(m.group(1)), float(m.group(2))
        a, b = val.split("#")[:2]
        return float(a), float(b)

    def _unit_unbound() -> DataFrame:
        # out-of-range coordinate input (|lat|>90 or |lon|>180): the
        # reference's coordinate parse rejects the query and the SERVICE
        # yields ONE solution with nothing bound (fixtures
        # geo-rectangle-outofbounds1a/1b, geo-circle-outofbounds1a/1b)
        row = [F.lit(None).cast("string").alias(subj.name)] + [
            F.lit(None).cast("string").alias(v) for v in outs.values()
        ]
        return store.spark.range(1).select(*row)

    def _coords_ok(*pairs) -> bool:
        return all(-90.0 <= la <= 90.0 and -180.0 <= lo <= 180.0 for la, lo in pairs)

    if mode == "inRectangle":
        lat0, lon0 = _pair(args["spatialRectangleSouthWest"])
        lat1, lon1 = _pair(args["spatialRectangleNorthEast"])
        if not _coords_ok((lat0, lon0), (lat1, lon1)):
            return _unit_unbound()
        # registered datatype CONFIG with per-field multipliers: query
        # bounds quantize to the index granularity before comparison (ref:
        # GeoSpatialLiteralExtension encodes bounds through the same
        # BigDecimal-multiply-truncate as stored values; fixture
        # geo-custom-precisiontest: "1.100000001111" at x1e5 bounds 1.1 in)
        specs = (getattr(store, "geo_configs", None) or {}).get(dtiri)
        if specs is not None and layout != "wkt":
            by_name = dict(zip(layout, specs))
            if "lat" in by_name:
                m = by_name["lat"].multiplier
                lat0, lat1 = (
                    geospatial.quantize_bound(repr(lat0), m),
                    geospatial.quantize_bound(repr(lat1), m),
                )
            if "lon" in by_name:
                m = by_name["lon"].multiplier
                lon0, lon1 = (
                    geospatial.quantize_bound(repr(lon0), m),
                    geospatial.quantize_bound(repr(lon1), m),
                )
        if lon0 > lon1:
            # antimeridian wraparound window (ref: GeoSpatialQuery.
            # normalize() — "a search range from 160 to -160 is two
            # ranges ]-180;-160] and [160;180]"; grid180-rectangle01)
            df = df.filter(
                F.col("lat").between(lat0, lat1)
                & ((F.col("lon") >= lon0) | (F.col("lon") <= lon1))
            )
        else:
            df = geospatial.in_rectangle(df, lat0, lat1, lon0, lon1)
    elif mode == "inCircle":
        clat, clon = _pair(args["spatialCircleCenter"])
        if not _coords_ok((clat, clon)):
            return _unit_unbound()
        # geo:spatialUnit (ref: GeoSpatial.SPATIAL_UNIT, default Kilometers
        # — GeoSpatial.java:125): the radius converts through the unit and
        # the distance binding reports in it, rounded at 2 like the
        # reference's serializeDistance
        unit = args.get("spatialUnit", "Kilometers")
        if unit not in geospatial.UNITS_TO_METERS:
            raise ValueError(
                f"geo:spatialUnit {unit!r}: expected one of "
                f"{sorted(geospatial.UNITS_TO_METERS)}"
            )
        fac = geospatial.UNITS_TO_METERS[unit]
        df = geospatial.in_circle_ref(
            df, clat, clon, float(args["spatialCircleRadius"]) * fac, unit_factor=fac
        )
    elif mode is not None:
        raise ValueError(f"unknown geo:search mode {mode!r}")
    if "timeStart" in args:
        df = df.filter(F.col("t") >= int(args["timeStart"]))
    if "timeEnd" in args:
        df = df.filter(F.col("t") <= int(args["timeEnd"]))
    if "coordSystem" in args:
        df = df.filter(F.col("coord") == int(args["coordSystem"]))
    if "customFields" in args:
        # geo:customFields "x#y#z" with positional lower/upper bounds (ref:
        # GeoSpatial.CUSTOM_FIELDS — app-declared dimensions range-filter
        # like any other; each bound is a plain pushable column predicate)
        names = args["customFields"].split("#")
        los = args.get("customFieldsLowerBounds", "").split("#")
        his = args.get("customFieldsUpperBounds", "").split("#")
        for i, n in enumerate(names):
            if i < len(los) and los[i] != "":
                df = df.filter(F.col(n) >= float(los[i]))
            if i < len(his) and his[i] != "":
                df = df.filter(F.col(n) <= float(his[i]))
    # component extraction round-trips through the parsed doubles, exactly
    # the reference's serializer output ("4#4" extracts as "4.0#4.0" —
    # geo-quads-valueextr fixture)
    ser = geospatial.geo_literal_serializer(dtiri)
    lat_s, lon_s = F.col("lat").cast("string"), F.col("lon").cast("string")
    t_s = F.col("t").cast("string")
    if layout == "wkt":
        # the WKT serializer renders extracted locations back in its own
        # format (ref: the test's GeoSpatialLiteralSerializer.toLocation)
        loc = F.concat(F.lit("Point("), lat_s, F.lit(","), lon_s, F.lit(")"))
    elif ser is not None and ser.serialize_location is not None:
        loc = ser.serialize_location(lat_s, lon_s)
    else:
        loc = F.concat(lat_s, F.lit("#"), lon_s)
    if ser is not None and ser.serialize_location_and_time is not None:
        loc_t = ser.serialize_location_and_time(lat_s, lon_s, t_s)
    else:
        loc_t = F.concat(loc, F.lit("#"), t_s)
    if "customFields" in args:
        cf_cols = [F.col(n).cast("string") for n in args["customFields"].split("#")]
        if ser is not None and ser.serialize_custom_fields is not None:
            custom_vals = ser.serialize_custom_fields(*cf_cols)
        else:
            custom_vals = F.concat_ws("#", *cf_cols)
    else:
        custom_vals = F.lit(None).cast("string")
    # serialize_* hooks wrap the per-binding output values (ref:
    # GeoSpatialDummyLiteralSerializer — "Lat(3.0)", "Time(5)", ...)
    def _wrap(hook, col):
        return hook(col.cast("string")) if (ser is not None and hook) else col

    lat_out = _wrap(getattr(ser, "serialize_latitude", None), F.col("lat"))
    lon_out = _wrap(getattr(ser, "serialize_longitude", None), F.col("lon"))
    t_out = _wrap(getattr(ser, "serialize_time", None), F.col("t"))
    coord_raw = F.col("coord") if "coord" in cols else F.lit(None)
    coord_out = _wrap(getattr(ser, "serialize_coord_system", None), coord_raw)
    if ser is not None and ser.serialize_distance is not None:
        # hook contract: string Columns in (value, unit), Column out
        dist_out = ser.serialize_distance(
            F.col("distance").cast("string"),
            F.lit(args.get("spatialUnit", "Kilometers")),
        )
    else:
        dist_out = F.col("distance")
    sel = [F.col("s").alias(subj.name)]
    # the extracted literal ALSO round-trips through the serializer in the
    # reference ("Point(1,1)" reads back "Point(1.0,1.0)") — for the
    # default layout re-serialization is the identity, for WKT it is loc
    lit_out = loc if layout == "wkt" else F.col("o_lex")
    for local, col in (
        ("latValue", lat_out), ("lonValue", lon_out),
        ("timeValue", t_out), ("locationValue", loc),
        ("literalValue", lit_out), ("distanceValue", dist_out),
        ("locationAndTimeValue", loc_t),
        ("coordSystemValue", coord_out),
        ("customFieldsValues", custom_vals),
    ):
        if local in outs:
            sel.append(col.alias(outs[local]))
    return df.select(*sel)


Transport = Callable[[str, str], list]  # (endpoint, sparql_text) -> rows as dicts


# ------------------------------------------------- SPARQL 1.1 protocol HTTP --
def build_http_request(endpoint: str, query: str) -> tuple[str, dict, bytes]:
    """(url, headers, body) for a SPARQL 1.1 Protocol query-via-POST:
    form-urlencoded ``query=`` body, SRJ accept header (ref:
    RemoteServiceCallImpl.java:51, which issues the same POST through the
    openrdf SPARQLRepository client)."""
    headers = {
        "Content-Type": "application/x-www-form-urlencoded",
        # prefer SRJ; accept SPARQL-XML from endpoints that only speak it
        # (the openrdf client behind RemoteServiceCallImpl negotiates the
        # same pair)
        "Accept": "application/sparql-results+json, application/sparql-results+xml;q=0.9",
    }
    return endpoint, headers, urlencode({"query": query}).encode()


def parse_srj(payload: bytes | str) -> list[dict]:
    """SPARQL JSON results document → list of {var: lexical} rows. Unbound
    vars are absent from a binding (per spec) and come back as None when the
    rows are reassembled into a DataFrame. Term type/lang/datatype collapse
    to the lexical form — remote bindings join on lexical equality, same as
    the engine's own value columns."""
    doc = json.loads(payload if isinstance(payload, str) else payload.decode())
    out_vars = doc.get("head", {}).get("vars", [])
    rows = []
    for b in doc.get("results", {}).get("bindings", []):
        rows.append({v: b[v]["value"] for v in (out_vars or b.keys()) if v in b})
    return rows


def parse_srx(payload: bytes | str) -> list[dict]:
    """SPARQL XML results document (application/sparql-results+xml) →
    list of {var: lexical} rows, the same collapse-to-lexical contract as
    ``parse_srj`` — for endpoints that only speak the XML format (the
    openrdf remote client accepts both)."""
    import xml.etree.ElementTree as ET

    ns = "{http://www.w3.org/2005/sparql-results#}"
    root = ET.fromstring(payload if isinstance(payload, str) else payload.decode())
    rows = []
    for result in root.iter(f"{ns}result"):
        row = {}
        for b in result.iter(f"{ns}binding"):
            term = next(iter(b), None)
            if term is not None:
                row[b.attrib["name"]] = term.text or ""
        rows.append(row)
    return rows


def parse_results(payload: bytes | str, content_type: str | None) -> list[dict]:
    """Dispatch a SPARQL-protocol response body by Content-Type: SRJ by
    default, SPARQL-XML when the endpoint negotiated it."""
    if content_type and "sparql-results+xml" in content_type:
        return parse_srx(payload)
    if content_type and ("xml" in content_type and "json" not in content_type):
        return parse_srx(payload)
    return parse_srj(payload)


def http_transport(timeout: float = 30.0) -> Transport:
    """Transport that really speaks SPARQL-protocol HTTP (stdlib urllib).
    Works against any reachable endpoint — exercised in tests against this
    repo's own localhost REST server, the only endpoint reachable from the
    build container. Responses dispatch on Content-Type (SRJ or
    SPARQL-XML)."""

    def send(endpoint: str, query: str) -> list:
        import urllib.request

        url, headers, body = build_http_request(endpoint, query)
        req = urllib.request.Request(url, data=body, headers=headers, method="POST")
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return parse_results(resp.read(), resp.headers.get("Content-Type"))

    return send


def _serialize_values(columns: list[str], rows: list) -> str:
    """VALUES block for binding pushdown (vectored SERVICE join)."""
    head = " ".join(f"?{c}" for c in columns)
    body = " ".join(
        "(" + " ".join(
            "UNDEF" if row[c] is None else f'"{str(row[c]).replace(chr(34), chr(92) + chr(34))}"'
            for c in columns
        ) + ")"
        for row in rows
    )
    return f"VALUES ({head}) {{ {body} }}"


def remote_sparql_service(endpoint: str, transport: Transport | None = None) -> ServiceFn:
    """Remote SPARQL endpoint service with an injectable transport.

    Evaluation strategy (ref: the vectored ServiceCallJoin behind
    ServiceRegistry.java): incoming bindings are chunked, each chunk is
    serialized as a VALUES block spliced into the query's ``{values}`` hole,
    the text is sent through ``transport(endpoint, text)``, and the returned
    rows (list of var→value dicts) are reassembled into one bindings
    DataFrame. Chunking bounds both request size and remote work per call —
    the same reason the reference vectorizes.

    ``transport=None`` defaults to :func:`http_transport` — a real SPARQL
    1.1 Protocol POST (query form body, SRJ response). Tests exercise it
    against this repo's own localhost REST endpoint; a local-store
    transport remains injectable for endpoint-free unit runs.
    """

    def call(spark: SparkSession, params: dict) -> DataFrame:
        nonlocal transport
        if transport is None:
            transport = http_transport()
        query: str = params["query"]
        bindings: DataFrame | None = params.get("bindings")
        chunk = int(params.get("chunk_size", 512))
        max_bindings = int(params.get("max_bindings", 100_000))
        all_rows: list = []
        if bindings is None:
            all_rows = list(transport(endpoint, query.replace("{values}", "")))
        else:
            cols = bindings.columns
            # driver-vectored like the reference's ServiceCallJoin, but
            # CAPPED (VERDICT r4: the reference chunks per request yet a
            # million-row subquery would still drag every binding through
            # the driver). limit(max+1) bounds the collect itself; beyond
            # the cap we fail loud with the remedies.
            pushed = [r.asDict() for r in bindings.limit(max_bindings + 1).collect()]
            if len(pushed) > max_bindings:
                raise ValueError(
                    f"SERVICE <{endpoint}>: local binding set exceeds "
                    f"max_bindings={max_bindings}; restrict the pattern "
                    "feeding the SERVICE clause, raise max_bindings, or "
                    "evaluate the service un-correlated and join locally"
                )
            for i in range(0, len(pushed), chunk):
                block = _serialize_values(cols, pushed[i : i + chunk])
                all_rows.extend(transport(endpoint, query.replace("{values}", block)))
        if not all_rows:
            return spark.createDataFrame([], "s string")
        out_cols: list[str] = []
        for r in all_rows:  # first-seen order: keeps the remote SELECT order
            for k in r:
                if k not in out_cols:
                    out_cols.append(k)
        data = [tuple(r.get(c) for c in out_cols) for r in all_rows]
        return spark.createDataFrame(
            data, ", ".join(f"{c} string" for c in out_cols)
        )

    return call


register_service("bds:search", _bds_search)
register_service("geo:search", _geo_search)


# ------------------------------------------------- bd: utility services --
BD_NS = "http://www.bigdata.com/rdf#"


def _bd_local(iri: str | None) -> str | None:
    return _ns_local(iri, BD_NS, "bd:")


def _split_service_params(store, sps):
    """Split a SERVICE block's triples into ``bd:serviceParam`` options and
    the actual pattern(s) (ref: eval/ServiceParams.java — the shared param
    convention of the bd: utility services). Returns (params, patterns):
    params maps the bd-local key ('sample.limit') to a list of lexicals."""
    from blazegraph_database_spark.model.terms import const_lex, is_const

    # grammar: `bd:serviceParam <key> <value>` — the SUBJECT is the magic
    # bd:serviceParam constant, the predicate names the option
    params: dict[str, list[str]] = {}
    patterns = []
    for sp in sps:
        subj = const_lex(sp.s) if is_const(sp.s) else None
        if subj is not None and _bd_local(subj) == "serviceParam":
            if not is_const(sp.p) or not is_const(sp.o):
                raise ValueError("bd:serviceParam needs constant key and value")
            # bd:-namespace keys compact to their local name
            # ('sample.limit'); app-chosen keys keep their full IRI
            p = const_lex(sp.p)
            key = _bd_local(p) or p
            params.setdefault(key, []).append(const_lex(sp.o))
        else:
            patterns.append(sp)
    return params, patterns


def _service_pattern_df(store, patterns) -> DataFrame:
    from blazegraph_database_spark.plans import algebra as A
    from blazegraph_database_spark.plans.compiler import evaluate

    if not patterns:
        raise ValueError("service needs at least one statement pattern")
    node = A.BGP(patterns) if len(patterns) > 1 else patterns[0]
    return evaluate(store, node)


def bd_sample_service(store, sps) -> DataFrame:
    """SERVICE <bd:sample> { pattern . bd:serviceParam bd:sample.limit n …}
    — statement-pattern sampling (ref: eval/SampleServiceFactory.java:101 +
    bop/ap/SampleIndex.java SampleType): DENSE = first N in key order,
    EVEN = every (total/N)th tuple in key order, RANDOM = seeded uniform.

    Spark: the pattern evaluates once; DENSE/EVEN order by the binding
    columns (the SPO-key-order analog); RANDOM is ``orderBy(rand(seed))``
    — one pass, TakeOrdered, never a full sort materialization."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    params, patterns = _split_service_params(store, sps)
    limit = int(params.get("sample.limit", ["100"])[0])
    seed = int(params.get("sample.seed", ["0"])[0])
    stype = params.get("sample.sampleType", ["RANDOM"])[0].upper()
    df = _service_pattern_df(store, patterns)
    cols = [c for c in df.columns if not c.endswith("__dt")]
    if stype == "DENSE":
        return df.orderBy(*cols).limit(limit)
    if stype == "EVEN":
        # every (total/N)-th tuple in key order. Indices come from
        # zipWithIndex over the distributed sort — NOT a global
        # row_number window, which would funnel every row through one
        # task (WindowExec with an empty partition spec)
        total = df.count()
        step = max(total // max(limit, 1), 1)
        sdf = df.orderBy(*cols)
        picked = (
            sdf.rdd.zipWithIndex()
            .filter(lambda t: t[1] % step == 0)
            .map(lambda t: t[0])
        )
        return sdf.sparkSession.createDataFrame(picked, sdf.schema).limit(limit)
    if stype == "RANDOM":
        return df.orderBy(F.rand(seed)).limit(limit)
    raise ValueError(f"unknown bd:sample.sampleType {stype!r} (DENSE/EVEN/RANDOM)")


def bd_slice_service(store, sps) -> DataFrame:
    """SERVICE <bd:slice> { pattern . bd:serviceParam bd:slice.offset o ;
    bd:slice.limit n } — direct offset/limit slice of an access path in
    key order (ref: eval/SliceServiceFactory.java:110)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    params, patterns = _split_service_params(store, sps)
    offset = int(params.get("slice.offset", ["0"])[0])
    limit = int(params.get("slice.limit", ["1000"])[0])
    df = _service_pattern_df(store, patterns)
    cols = [c for c in df.columns if not c.endswith("__dt")]
    # TakeOrdered bounds the data to offset+limit rows FIRST (distributed
    # top-k, no shuffle of the full pattern result); the row_number window
    # then runs over that bounded set only — a global window over the raw
    # pattern would drag every matching row through one task
    bounded = df.orderBy(*cols).limit(offset + limit)
    w = Window.orderBy(*cols)
    return (
        bounded.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > offset)
        .drop("__rn")
    )


# DESCRIBE cache behind SERVICE <bd:describe> (ref: ServiceRegistry.java:151
# registers DescribeServiceFactory when the describe cache is enabled;
# ast/cache/DescribeCache.java). The reference's factory only maintains the
# cache (its ServiceCall.create is an acknowledged TODO) — here the clause
# is a full query surface. MVCC keying (id of the store's immutable
# DataFrame rides the key, pinned so ids can't recycle) makes invalidation
# automatic on update, the same discipline as the REST describe cache.
_DESCRIBE_CACHE: dict[tuple, tuple] = {}
_DESCRIBE_CACHE_MAX = 64


def bd_describe_service(store, sps) -> DataFrame:
    """SERVICE <bd:describe> { ?s ?p ?o . bd:serviceParam bd:describe.iri
    <r> . [bd:describe.mode "..." ; bd:describe.iterationLimit "n"] } —
    the CBD of the listed resources as bindings of the block's one triple
    pattern, served through a bounded MVCC-keyed LRU."""
    from pyspark.sql import functions as F

    from blazegraph_database_spark.plans import compiler

    params, patterns = _split_service_params(store, sps)
    iris = params.get("describe.iri", [])
    if not iris:
        raise ValueError(
            "SERVICE <bd:describe> needs bd:serviceParam bd:describe.iri <r>"
        )
    if len(patterns) != 1:
        raise ValueError("SERVICE <bd:describe> takes exactly one triple pattern")
    mode = params.get("describe.mode", [None])[0]
    iters = params.get("describe.iterationLimit", [None])[0]
    kwargs = compiler.describe_kwargs(mode, int(iters) if iters is not None else None)
    key = (id(store.df), tuple(sorted(iris)), tuple(sorted(kwargs.items())))
    hit = _DESCRIBE_CACHE.get(key)
    if hit is not None:
        _DESCRIBE_CACHE[key] = _DESCRIBE_CACHE.pop(key)  # LRU touch
        cbd = hit[1]
    else:
        cbd = compiler.describe(store, list(iris), **kwargs).localCheckpoint(eager=True)
        _DESCRIBE_CACHE[key] = (store.df, cbd)
        while len(_DESCRIBE_CACHE) > _DESCRIBE_CACHE_MAX:
            _DESCRIBE_CACHE.pop(next(iter(_DESCRIBE_CACHE)))
    sp = patterns[0]
    from blazegraph_database_spark.model.terms import Var, const_lex, is_const

    sel, conds = [], []
    for col, pos in (("s", sp.s), ("p", sp.p), ("o_lex", sp.o)):
        if isinstance(pos, Var):
            sel.append(F.col(col).alias(pos.name))
            if col == "o_lex":
                sel.append(F.col("o_dt").alias(f"{pos.name}__dt"))
        elif is_const(pos):
            conds.append(F.col(col) == const_lex(pos))
    out = cbd
    for c in conds:
        out = out.filter(c)
    return out.select(*sel).distinct()


# ------------------------------------------------------- stored queries --
# ref: service/storedquery/StoredQueryService.java — applications register
# a stored query (SPARQL text or procedural logic) under a service IRI of
# their choosing; SERVICE <iri> { bd:serviceParam ... } invokes it.
_STORED_QUERIES: dict[str, object] = {}


def register_stored_query(iri: str, query) -> None:
    """Register SPARQL text or a callable ``(store, params) -> DataFrame``
    under a service IRI (ref: StoredQueryService registration against the
    ServiceRegistry)."""
    _STORED_QUERIES[iri] = query


def stored_query_lookup(iri: str):
    return _STORED_QUERIES.get(iri)


def call_stored_query(store, iri: str, sps) -> DataFrame:
    """Invoke a stored query; the block's bd:serviceParam triples become
    the ServiceParams the stored logic sees."""
    q = _STORED_QUERIES[iri]
    params, patterns = _split_service_params(store, sps)
    if patterns:
        raise ValueError(
            "stored-query SERVICE blocks carry only bd:serviceParam triples"
        )
    if callable(q):
        return q(store, params)
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    return run_sparql(store, q)


def bd_values_service(store, sps) -> DataFrame:
    """SERVICE <bd:values> { bd:serviceParam bd:values.var ?v .
    bd:serviceParam bd:values.val "x" . ... } — the VALUES-as-service form
    (ref: eval/ValuesServiceFactory.java:92): one binding per bd:values.val
    for the named var."""
    from blazegraph_database_spark.model.terms import Var, const_lex, is_const

    var = None
    vals: list[str] = []
    for sp in sps:
        subj = const_lex(sp.s) if is_const(sp.s) else None
        if subj is None or _bd_local(subj) != "serviceParam":
            raise ValueError("bd:values blocks carry only bd:serviceParam triples")
        key = _bd_local(const_lex(sp.p)) if is_const(sp.p) else None
        if key == "values.var":
            if not isinstance(sp.o, Var):
                raise ValueError("bd:values.var needs a variable object")
            var = sp.o.name
        elif key == "values.val":
            if not is_const(sp.o):
                raise ValueError("bd:values.val needs a constant value")
            vals.append(const_lex(sp.o))
        else:
            raise ValueError(f"unknown bd:values param {key!r}")
    if var is None:
        raise ValueError("bd:values needs bd:values.var ?v")
    return store.spark.createDataFrame([(v,) for v in vals], f"{var} string")


def bd_history_service(store, sps) -> DataFrame:
    """SERVICE <bd:history> — the history-index query surface (ref:
    ast/service/history/HistoryServiceFactory.java:1 — the reference
    exposes its ordered change index through a registered SERVICE;
    HistoryChangeRecord = statement + ChangeAction + commit time).

    Block grammar: one triple pattern (vars or constants position-filter
    the change records) plus optional params —

        ?s ?p ?o .
        bd:serviceParam bd:history.action ?action .  # 'added'/'removed'
        bd:serviceParam bd:history.commit ?commit .  # commit point (int)
        bd:serviceParam bd:history.since "N" .       # commits > N only

    Requires a store view carrying its UpdatableStore (query_store sets
    the back-pointer) — the MVCC version list IS the history index."""
    from pyspark.sql import functions as F

    from blazegraph_database_spark.model.terms import Var, const_lex, is_const

    us = store.updatable
    if us is None:
        raise ValueError(
            "SERVICE <bd:history> needs an updatable store (query via "
            "UpdatableStore.query_store or the REST endpoint)"
        )
    # scan by hand: action/commit params take VARIABLE objects, which
    # _split_service_params (constants-only) would reject
    action_var = commit_var = None
    action_filter = commit_filter = None
    since = 0
    pattern = None
    for sp in sps:
        subj = const_lex(sp.s) if is_const(sp.s) else None
        if subj is not None and _bd_local(subj) == "serviceParam":
            key = _bd_local(const_lex(sp.p)) if is_const(sp.p) else None
            # a VARIABLE object binds the record field; a CONSTANT object
            # filters the records by it (the reference's history service
            # filters by ChangeAction / commit point the same way)
            if key == "history.action" and isinstance(sp.o, Var):
                action_var = sp.o.name
            elif key == "history.action" and is_const(sp.o):
                action_filter = const_lex(sp.o)
                if action_filter not in ("added", "removed"):
                    raise ValueError(
                        "bd:history.action filter must be 'added' or "
                        f"'removed', got {action_filter!r}"
                    )
            elif key == "history.commit" and isinstance(sp.o, Var):
                commit_var = sp.o.name
            elif key == "history.commit" and is_const(sp.o):
                commit_filter = int(const_lex(sp.o))
            elif key == "history.since" and is_const(sp.o):
                since = int(const_lex(sp.o))
            else:
                raise ValueError(f"unknown bd:history param {key!r}")
        else:
            if pattern is not None:
                raise ValueError("bd:history takes ONE statement pattern")
            pattern = sp
    if pattern is None:
        raise ValueError("bd:history needs a statement pattern")
    log = us.changelog(since=since)
    if action_filter is not None:
        log = log.filter(F.col("action") == action_filter)
    if commit_filter is not None:
        log = log.filter(F.col("commit") == commit_filter)
    sel = []
    for term, col in ((pattern.s, "s"), (pattern.p, "p"), (pattern.o, "o_lex")):
        if isinstance(term, Var):
            sel.append(F.col(col).alias(term.name))
        else:
            log = log.filter(F.col(col) == const_lex(term))
    if action_var is not None:
        sel.append(F.col("action").alias(action_var))
    if commit_var is not None:
        sel.append(F.col("commit").alias(commit_var))
    return log.select(*sel)


# --------------------------------------------- external fulltext (fts:) --
FTS_NS = "http://www.bigdata.com/rdf/fts#"


def _fts_local(iri: str | None) -> str | None:
    return _ns_local(iri, FTS_NS, "fts:")


def solr_transport(timeout_ms: int | None = None):
    """Default fts: transport — a Solr select GET (ref:
    fts/impl/SolrFulltextSearchImpl.java:100: `wt=json` + user params,
    response parsed from response.docs). Returns list[dict] docs."""

    def transport(endpoint: str, query: str, params: str | None):
        from urllib.request import urlopen

        # list-of-pairs, NOT a dict: Solr params repeat (fq=a&fq=b is two
        # filters) and collapsing repeats silently drops all but the last
        pairs = [("q", query), ("wt", "json")]
        if params:
            for kv in params.split("&"):
                k, _, v = kv.partition("=")
                if k and k != "wt":
                    pairs.append((k, v))
        url = endpoint + ("&" if "?" in endpoint else "?") + urlencode(pairs)
        with urlopen(url, timeout=(timeout_ms or 60_000) / 1000) as resp:
            doc = json.loads(resp.read().decode())
        return doc["response"]["docs"]

    return transport


def fts_search_service(store, sps, transport=None) -> DataFrame:
    """SERVICE <fts:search> — EXTERNAL fulltext search (ref:
    fts/FulltextSearchServiceFactory.java + FTS.java vocabulary): the
    reference federates search out to a Solr endpoint; hits come back as
    bindings with score/snippet. Magic triples:

        ?res fts:search "query" ;
             fts:endpoint "http://solr/core/select" ;
             fts:params "defType=edismax&qf=text" ;     # optional
             fts:searchField "id" ;                     # doc field → ?res
             fts:scoreField "score" ; fts:snippetField "snippet" ;
             fts:searchResultType "LITERAL" | "URI" ;
             fts:timeout "5000" ;
             fts:score ?score ; fts:snippet ?snip .

    The transport is injectable (tests run a fake Solr); the default
    speaks the real Solr select wire format."""
    from pyspark.sql import functions as F

    from blazegraph_database_spark.model.terms import Var, const_lex, is_const

    res_var = None
    opts = {
        "searchField": "id",
        "scoreField": "score",
        "snippetField": "snippet",
        "searchResultType": "LITERAL",
    }
    score_var = snippet_var = None
    query = endpoint = params = None
    timeout = None
    for sp in sps:
        pred = const_lex(sp.p) if is_const(sp.p) else None
        local = _fts_local(pred)
        if local is None:
            continue
        if local == "search":
            res_var = sp.s if isinstance(sp.s, Var) else None
            query = const_lex(sp.o)
        elif local == "endpoint":
            endpoint = const_lex(sp.o)
        elif local == "params":
            params = const_lex(sp.o)
        elif local == "timeout":
            timeout = int(const_lex(sp.o))
        elif local in ("searchField", "scoreField", "snippetField", "searchResultType"):
            opts[local] = const_lex(sp.o)
        elif local == "score" and isinstance(sp.o, Var):
            score_var = sp.o.name
        elif local == "snippet" and isinstance(sp.o, Var):
            snippet_var = sp.o.name
        else:
            # unknown fts: predicate (or a var where a constant belongs):
            # raise like the sibling bd: services do — silently dropping a
            # typo'd option leaves vars unbound with no diagnostic
            raise ValueError(f"unknown fts: service predicate {pred!r}")
    if res_var is None or query is None:
        raise ValueError('SERVICE <fts:search> needs `?res fts:search "query"`')
    if endpoint is None:
        raise ValueError("SERVICE <fts:search> needs fts:endpoint (no default configured)")
    if transport is None:
        transport = solr_transport(timeout)
    docs = transport(endpoint, query, params)

    def flat(v):  # ref flattenJsonResult: arrays join, scalars stringify
        if isinstance(v, list):
            return " ".join(str(x) for x in v)
        return str(v)

    rows = []
    for d in docs:
        sf = opts["searchField"]
        if sf not in d:
            raise ValueError(f"fts: search field {sf!r} missing from result doc")
        rows.append(
            (
                flat(d[sf]),
                float(flat(d[opts["scoreField"]])) if opts["scoreField"] in d else None,
                flat(d[opts["snippetField"]]) if opts["snippetField"] in d else None,
            )
        )
    spark = store.spark
    out = spark.createDataFrame(rows, "res string, score double, snippet string")
    sel = [out["res"].alias(res_var.name)]
    rtype = opts["searchResultType"].upper()
    if rtype not in ("URI", "LITERAL"):
        raise ValueError(
            f"fts:searchResultType must be LITERAL or URI, got {rtype!r}"
        )
    # ref FulltextSearchServiceFactory binds hits as URIs or literals per
    # the option; the dt companion makes isURI()/isLiteral() and IRI joins
    # see the right term type (term-type fns REQUIRE the companion)
    sel.append(
        F.lit("iri" if rtype == "URI" else "string").alias(f"{res_var.name}__dt")
    )
    if score_var is not None:
        sel.append(out["score"].alias(score_var))
    if snippet_var is not None:
        sel.append(out["snippet"].alias(snippet_var))
    return out.select(*sel)


# ------------------------------------------------------- bd:alp service --
def alp_service(store, pattern) -> DataFrame:
    """SERVICE bd:alp — the configurable arbitrary-length-path service
    (ref: ASTALPServiceOptimizer.java; BD.java ALP_SERVICE; the documented
    form in blazegraph ticket 1072):

        SERVICE bd:alp {
          <src> ?edge ?to .
          hint:Prior hint:alp.pathExpr true .
          ?edge <p> <o> .          # edge-constraint patterns (a BGP on ?edge)
          hint:Group hint:alp.lowerBound 1 .
          hint:Group hint:alp.upperBound 3 .
          hint:Group hint:alp.bidirectional true .
        }

    Semantics: one hop n→m iff a triple (n, e, m) exists whose PREDICATE e
    satisfies the constraint BGP; walks of length in [lowerBound,
    upperBound] connect the path pattern's endpoints. Spark-first shape:
    the constraint BGP compiles normally (selectivity-ordered, pruned
    scans), its DISTINCT edge set broadcast-joins the store's IRI-object
    triples into a filtered edge table, and the round-capped
    `operators/paths.bounded_paths` composition produces the pairs (with a
    constant endpoint, `paths.bounded_reach` walks from it instead) — no
    per-hop re-evaluation of the constraints. lowerBound 0 adds the
    zero-length identity on the source side. Binds the endpoint
    variables; the per-hop edge binding is existential across a multi-hop
    walk and is not projected (the reference's alp.edgeVar covers the
    same single-var naming)."""
    from pyspark.sql import functions as F

    from blazegraph_database_spark.model.terms import Var, const_lex, is_const
    from blazegraph_database_spark.operators.paths import bounded_paths, bounded_reach
    from blazegraph_database_spark.plans import algebra as A

    def bgps(n, acc):
        if isinstance(n, A.BGP):
            acc.append(n)
        for f in getattr(n, "__dataclass_fields__", {}):
            v = getattr(n, f)
            if hasattr(v, "__dataclass_fields__"):
                bgps(v, acc)
            elif isinstance(v, tuple):
                for x in v:
                    if hasattr(x, "__dataclass_fields__"):
                        bgps(x, acc)
        return acc

    groups = bgps(pattern, [])
    alp = None
    sps: list = []
    path_sp = None
    for g in groups:
        h = (getattr(g, "hints", None) or {}).get("alp")
        pats = list(g.patterns)
        if h is not None and "path_idx" in h:
            alp = h
            path_sp = pats.pop(h["path_idx"])
        elif h is not None and alp is None:
            alp = h
        sps.extend(pats)
    if alp is None or path_sp is None:
        raise ValueError(
            "SERVICE bd:alp needs exactly one path pattern marked with "
            "`hint:Prior hint:alp.pathExpr true`"
        )
    if not isinstance(path_sp.p, Var):
        raise ValueError("bd:alp path pattern must have a VARIABLE edge (predicate) term")
    edge_var = path_sp.p.name

    edges = store.df.filter(F.col("o_dt") == "iri").select("s", "p", F.col("o_lex").alias("o"))
    if sps:
        from blazegraph_database_spark.plans.compiler import _compile

        cand = _compile(A.BGP(sps), store)
        if edge_var not in cand.columns:
            raise ValueError(
                f"bd:alp edge constraints never bind the edge variable ?{edge_var}"
            )
        cand = cand.select(F.col(edge_var).alias("p")).distinct()
        edges = edges.join(F.broadcast(cand), on="p")
    edges = edges.select("s", "o")
    if str(alp.get("bidirectional", "false")).lower() == "true":
        edges = edges.unionByName(edges.select(F.col("o").alias("s"), F.col("s").alias("o")))
    lower = int(alp.get("lowerBound", 1))
    upper = int(alp["upperBound"]) if "upperBound" in alp else None
    s_const, o_const = is_const(path_sp.s), is_const(path_sp.o)
    if s_const or o_const:
        # GEARED: a constant endpoint seeds a frontier walk over the edge
        # relation instead of composing its all-pairs closure (same
        # anchored-ALP shape as _anchored_path_pairs): bounded_paths
        # composes the FULL relation per round, bounded_reach only the
        # frontier, and an unbounded upper walks GAS BFS.
        forward = s_const
        base = edges if forward else edges.select(
            F.col("o").alias("s"), F.col("s").alias("o")
        )
        seed = const_lex(path_sp.s if forward else path_sp.o)
        frontier = store.spark.createDataFrame([(seed,)], "o string")
        reached = bounded_reach(base, frontier, max(lower, 1), upper)
        pairs = reached.select(F.lit(seed).alias("s"), F.col("o"))
        if not forward:
            pairs = pairs.select(F.col("o").alias("s"), F.col("s").alias("o"))
        if lower <= 0:
            # zero-length: the seed reaches itself WHEN it is a store term
            nodes = store.df.select(F.col("s").alias("s")).unionByName(
                store.df.filter(F.col("o_dt") == "iri").select(F.col("o_lex").alias("s"))
            )
            ident = (
                nodes.filter(F.col("s") == seed).distinct()
                .select("s", F.col("s").alias("o"))
            )
            pairs = pairs.unionByName(ident).distinct()
    else:
        pairs = bounded_paths(edges, max(lower, 1), upper)
        if lower <= 0:
            # zero-length: the source reaches itself
            nodes = store.df.select(F.col("s").alias("s")).unionByName(
                store.df.filter(F.col("o_dt") == "iri").select(F.col("o_lex").alias("s"))
            ).distinct().select("s", F.col("s").alias("o"))
            pairs = pairs.unionByName(nodes).distinct()

    out_cols = []
    if s_const:
        pairs = pairs.filter(F.col("s") == const_lex(path_sp.s))
    else:
        out_cols.append(F.col("s").alias(path_sp.s.name))
    if o_const:
        pairs = pairs.filter(F.col("o") == const_lex(path_sp.o))
    else:
        out_cols.append(F.col("o").alias(path_sp.o.name))
    if not out_cols:
        out_cols = [F.lit(True).alias("__alp_hit")]
    return pairs.select(*out_cols).distinct()


# -- wikibase:label — the Wikidata deployment's label service ---------------

WIKIBASE_NS = "http://wikiba.se/ontology#"
WIKIBASE_LABEL_SERVICE = WIKIBASE_NS + "label"
_RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
_SCHEMA_DESC = "http://schema.org/description"
_SKOS_ALT = "http://www.w3.org/2004/02/skos/core#altLabel"
LABEL_TARGET_PREDS = {
    "Label": _RDFS_LABEL,
    "Description": _SCHEMA_DESC,
    "AltLabel": _SKOS_ALT,
}


def label_service_langs(store, sps) -> list[str]:
    """Language preference list from `bd:serviceParam wikibase:language
    "en,de"` triples (comma lists and repeated params both accepted;
    `[AUTO_LANGUAGE]` placeholders are dropped — no request context here)."""
    params, _pats = _split_service_params(store, sps)
    raw = params.get(WIKIBASE_NS + "language", [])
    langs = [l.strip() for v in raw for l in v.split(",")]
    langs = [l for l in langs if l and not l.startswith("[")]
    return langs or ["en"]


def label_service_targets(sps) -> list[tuple]:
    """Manual-mode label triples `?x rdfs:label ?xLabel` (and description /
    altLabel) from the SERVICE block → [(entity_var, pred_iri, out_var)].
    Automatic mode is rewritten INTO this form at parse time from the
    query's projection (see sparql_parser), mirroring how the Wikidata
    label service resolves `?xLabel`-style projection variables."""
    from blazegraph_database_spark.model.terms import Var, const_lex, is_const

    out = []
    for sp in sps:
        if (
            is_const(sp.p)
            and const_lex(sp.p) in LABEL_TARGET_PREDS.values()
            and isinstance(sp.s, Var)
            and isinstance(sp.o, Var)
        ):
            out.append((sp.s.name, const_lex(sp.p), sp.o.name))
    return out


def label_service_join(store, ldf: DataFrame, sps) -> DataFrame:
    """Join label bindings onto incoming solutions — the Wikidata label
    service contract (public SERVICE wikibase:label semantics; Wikidata
    runs Blazegraph, so this is first-class reference-deployment surface):
    for each target `?x → ?xLabel`, bind the store's rdfs:label of ?x in
    the FIRST preferred language that has one; a Label target falls back
    to the term's local name when no label exists, Description/AltLabel
    stay unbound. One left join per target; the label lookup prunes to the
    target predicate before its per-entity window, so the joined side is
    label-index-sized, never store-sized."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    langs = label_service_langs(store, sps)
    targets = label_service_targets(sps)
    pri = None
    for i, lang in enumerate(langs):
        c = F.when(F.col("o_dt") == f"lang:{lang}", F.lit(i))
        pri = c if pri is None else pri.when(F.col("o_dt") == f"lang:{lang}", F.lit(i))
    # untagged labels rank after every preferred language
    pri = pri.when(F.col("o_dt") == "string", F.lit(len(langs))) if pri is not None else F.lit(0)
    for evar, pred, ovar in targets:
        if ovar in ldf.columns:
            continue
        if evar not in ldf.columns:
            ldf = ldf.withColumn(ovar, F.lit(None).cast("string"))
            continue
        lab = (
            store.df.filter(F.col("p") == pred)
            .withColumn("__pri", pri)
            .filter(F.col("__pri").isNotNull())
        )
        w = Window.partitionBy("s").orderBy("__pri", "o_lex")
        best = (
            lab.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                F.col("s").alias("__ent"),
                F.col("o_lex").alias("__lab"),
                F.col("o_dt").alias("__labdt"),
            )
        )
        ldf = ldf.join(best, on=ldf[evar] == best["__ent"], how="left").drop("__ent")
        val = F.col("__lab")
        if pred == _RDFS_LABEL:
            # Wikidata fallback: the entity's local name stands in for a
            # missing label ("Q42" when no rdfs:label matches)
            val = F.coalesce(val, F.regexp_extract(F.col(evar), r"([^/#]*)$", 1))
        ldf = ldf.withColumn(ovar, val)
        if store.track_dt:
            # the label keeps its language tag; the local-name fallback is a
            # plain string; an unbound Description/AltLabel stays untyped
            dt = F.when(F.col("__lab").isNotNull(), F.col("__labdt"))
            if pred == _RDFS_LABEL:
                dt = F.coalesce(dt, F.lit("string"))
            ldf = ldf.withColumn(f"{ovar}__dt", dt)
        ldf = ldf.drop("__lab", "__labdt")
    return ldf
