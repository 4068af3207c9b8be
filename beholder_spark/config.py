"""Beholder config-language front end: config text → DataFrame transformations.

The reference's user interface is a config file of commands
(`beholder@public:README.md` — tokens are words, 'quoted strings' with
``{$field}`` / ``$field`` interpolation, ``~regex~`` literals, ``{ } ;``
block structure; SURVEY.md §3.1). This module gives reference users that
same surface on the Spark engine: the text compiles to DataFrame
transformations over the same operators the flagship job
(:func:`beholder_spark.pipeline.route_pages`) calls, so one config drives
a batch or streaming DataFrame DAG.

Supported command subset (the router core — SURVEY.md §2):

    from parquet '<path>' | from text '<path>' | from timer <n> | from infinity <n>
    from udp <port> spool '<dir>'         # S1 live ingest (streaming mode)
    from tcp <host> <port>                # S2 live listener (newline framing)
    from tcp <host> <port> as syslog-frame spool '<dir>'
                                          # S2 RFC6587 octet-counted framing
    from internal-log '<root>'            # S4 own lineage table as messages
    parse syslog [keep-unparsed]          # on $payload
    parse fieldpack [$a ...] [keep-unparsed]  # P4 binary field map (SPEC in operators/parse.py)
    parse beholder-stats                  # P6 typed counters from internal-log
    parse json $field key:type ...        # declared schema
    parse regexp ~pattern~ $name:idx ...  # named groups
    parse each-field-as-message [$a ...]  # explode fields → (key, value) rows
    set $f 'template with {$a} text'      # interpolation
    set $f replace ~re~ 'tpl' [in $src]
    set $f basename $src | severity-name $src | json $a $b ... | date $ts
    set $f host $url                      # per-row host from url column
    set $f env NAME ['default']           # plan-time environment literal
    keep $a $b ...
    drop if $col == 'value'               # simplified predicate form
    switch $field { case ~re~ { ... } default { ... } }
    join { from … ; ... }                 # C3 union a subflow into this flow
    tee { ... }                           # C2 side block: its sinks only
    flow { ... }                          # inline block of commands
    buffer <n>                            # sink batching → maxRecordsPerFile (batch only)
    to file '<path template with {$field}>'
    to stdout | to tcp 'host:port' | to udp 'host:port' | to shell 'cmd'

Semantics pinned by our SPEC where the reference is unverifiable:
switch is first-match-wins in case order; messages matching no case take
the ``default`` block if present, else route ``_unmatched`` (quarantined,
never silently dropped — SURVEY.md §2.4 R3). ``to file`` templates whose
placeholders are message fields become partition columns of ONE
partitionBy fan-out write (field-templated paths ≡ dynamic partitioning,
SURVEY.md §2.6 K2).

Everything compiles to column expressions / existing operators — the
config front end adds zero execution machinery.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beholder_spark import sinks as sk
from beholder_spark.operators import fields as fo
from beholder_spark.operators import parse as po
from beholder_spark.operators import route as ro

# ---------------------------------------------------------------------------
# Tokenizer: words, 'quoted', ~regex~, { } ;
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    \s*(?:
        (?P<comment>\#[^\n]*)
      | (?P<quoted>'(?:[^'\\]|\\.)*')
      | (?P<regex>~(?:[^~\\]|\\.)*~)
      | (?P<brace>[{};])
      | (?P<word>[^\s{};]+)
    )
    """,
    re.VERBOSE,
)


@dataclass
class Token:
    kind: str  # 'quoted' | 'regex' | 'brace' | 'word'
    value: str


def tokenize(text: str) -> list[Token]:
    out: list[Token] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            if text[pos:].strip():
                raise ConfigError(f"cannot tokenize at: {text[pos:pos + 40]!r}")
            break
        pos = m.end()
        if m.lastgroup == "comment" or m.lastgroup is None:
            continue
        v = m.group(m.lastgroup)
        if m.lastgroup == "quoted":
            v = v[1:-1].replace("\\'", "'").replace("\\\\", "\\")
        elif m.lastgroup == "regex":
            v = v[1:-1].replace("\\~", "~")
        out.append(Token(m.lastgroup, v))
    return out


class ConfigError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Parser: token stream → command tree
# ---------------------------------------------------------------------------


@dataclass
class Command:
    name: str
    args: list[Token] = field(default_factory=list)
    block: list["Command"] | None = None


class _Parser:
    def __init__(self, tokens: list[Token]):
        self.toks = tokens
        self.i = 0

    def _peek(self) -> Token | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def parse_block(self, top: bool = False) -> list[Command]:
        cmds: list[Command] = []
        while True:
            t = self._peek()
            if t is None:
                if not top:
                    raise ConfigError("unexpected end of config inside block")
                return cmds
            if t.kind == "brace" and t.value == "}":
                if top:
                    raise ConfigError("unmatched '}'")
                self.i += 1
                return cmds
            cmds.append(self.parse_command())

    def parse_command(self) -> Command:
        t = self._peek()
        if t is None or t.kind != "word":
            raise ConfigError(f"expected command word, got {t}")
        self.i += 1
        cmd = Command(t.value)
        while True:
            t = self._peek()
            if t is None:
                return cmd
            if t.kind == "brace":
                self.i += 1
                if t.value == ";":
                    return cmd
                if t.value == "{":
                    cmd.block = self.parse_block()
                    return cmd
                raise ConfigError("unmatched '}'")
            cmd.args.append(t)
            self.i += 1


def parse_config(text: str) -> list[Command]:
    return _Parser(tokenize(text)).parse_block(top=True)


# ---------------------------------------------------------------------------
# Template interpolation: 'text {$a} more $b' → Column
# ---------------------------------------------------------------------------

_INTERP_RE = re.compile(r"\{\$(\w+)\}|\$(\w+)")


def template_column(tpl: str) -> Column:
    """Beholder string template → concat() of literals and columns."""
    parts: list[Column] = []
    last = 0
    for m in _INTERP_RE.finditer(tpl):
        if m.start() > last:
            parts.append(F.lit(tpl[last:m.start()]))
        parts.append(F.coalesce(F.col(m.group(1) or m.group(2)).cast("string"), F.lit("")))
        last = m.end()
    if last < len(tpl):
        parts.append(F.lit(tpl[last:]))
    if not parts:
        return F.lit("")
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def template_fields(tpl: str) -> list[str]:
    return [m.group(1) or m.group(2) for m in _INTERP_RE.finditer(tpl)]


def _field(tok: Token) -> str:
    if not tok.value.startswith("$"):
        raise ConfigError(f"expected $field, got {tok.value!r}")
    return tok.value[1:]


# ---------------------------------------------------------------------------
# Compiler: command tree → DataFrame transformations
# ---------------------------------------------------------------------------

_JSON_TYPES = {
    "string": T.StringType(),
    "long": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
}


@dataclass
class CompiledPipeline:
    """Result of compiling one config: a transformation over the source
    DataFrame plus the fan-out sink templates collected from `to file`."""

    transform: "callable"
    sinks: list[dict]  # [{"path_template": str, "partition_fields": [...]}]
    # the scan a SELF-SOURCING config built on the last invocation (None
    # when the caller supplied the source) — run_config_pipeline persists
    # it so K sinks cost one source computation, same as the caller-df path
    source_df: DataFrame | None = None
    # listener bridges the last invocation declared, as (bridge class,
    # kwargs): `from udp` → UdpSpoolBridge, `from tcp … as syslog-frame` →
    # TcpSyslogFrameBridge. The Spark plan tails each spool; `--daemon`
    # starts the listeners driver-side (Spark has no UDP source, and
    # RFC6587 frames may embed newlines the socket source can't carry)
    ingest: list[tuple[type, dict]] = field(default_factory=list)
    # the live (streaming) scans the last invocation's `join { from udp|
    # tcp … }` blocks built, in order: run_config_stream streams them in
    # one union with the top-level source and passes each micro-batch's
    # share of them back as ``replay``
    streams: list[DataFrame] = field(default_factory=list)

    def __call__(
        self,
        df: DataFrame | None = None,
        spark: SparkSession | None = None,
        replay: list[DataFrame] | None = None,
    ) -> DataFrame:
        return self.transform(df, spark, replay)


def _compile_set(df: DataFrame, cmd: Command) -> DataFrame:
    fname = _field(cmd.args[0])
    rest = cmd.args[1:]
    if not rest:  # `set $f;` clears the field (F10)
        return fo.unset(df, fname) if fname in df.columns else df
    head = rest[0]
    if head.kind == "quoted":
        return df.withColumn(fname, template_column(head.value))
    word = head.value
    if word == "replace":
        pat, tpl = rest[1].value, rest[2].value
        src = fname
        if len(rest) >= 5 and rest[3].value == "in":
            src = _field(rest[4])
        # Beholder templates use $0..$9 backrefs; Spark uses $1-style too
        return fo.set_replace(df, fname, pat, tpl, src if src != fname else None)
    if word == "basename":
        return fo.set_basename(df, fname, _field(rest[1]))
    if word == "severity-name":
        return fo.set_severity_name(df, fname, _field(rest[1]))
    if word == "json":
        return fo.set_json(df, fname, *[_field(a) for a in rest[1:]])
    if word == "date":
        # SPEC deviation from Beholder (documented): wall-clock `set $f
        # date` is nondeterministic — reruns/resume/oracles would diverge
        # — so a source timestamp column is REQUIRED here.
        if len(rest) < 2:
            raise ConfigError(
                "set $f date requires a source column (`set $f date $ts`): "
                "wall-clock time is banned in deterministic pipelines"
            )
        return fo.set_date(df, fname, _field(rest[1]))
    if word == "host":
        return fo.set_host_from_url(df, fname, _field(rest[1]))
    if word == "env":
        # F5: resolved driver-side at PLAN time → a literal column. The
        # var name is a word or quoted string; optional quoted default.
        if len(rest) < 2:
            raise ConfigError("set $f env requires a variable name")
        default = rest[2].value if len(rest) >= 3 else ""
        return fo.set_env(df, fname, rest[1].value, default)
    raise ConfigError(f"unsupported set function: {word!r}")


def _compile_from(spark: SparkSession, cmd: Command, ctx: dict | None = None) -> DataFrame:
    """S1-S5 sources: parquet/text scans (batch), timer/infinity
    generators, and the LIVE listeners (udp/tcp → streaming DataFrames,
    usable only under :func:`run_config_stream`, which ``--daemon``
    runs)."""
    from beholder_spark import sources

    kind = cmd.args[0].value
    if kind == "parquet":
        return sources.from_parquet(spark, cmd.args[1].value)
    if kind == "text":
        # S2 newline-framed lines → one message per line with $payload
        return sources.from_text_lines(spark, cmd.args[1].value)
    if kind == "timer":
        return sources.from_timer(spark, int(cmd.args[1].value))
    if kind == "infinity":
        return sources.from_infinity(spark, int(cmd.args[1].value))
    if kind == "internal-log":
        # S4 self-observability: the engine's own _lineage table as a
        # message source — `from internal-log '<pipeline root>'`; pair
        # with `parse beholder-stats` to recover the typed counters
        if len(cmd.args) < 2:
            raise ConfigError("`from internal-log` requires: from internal-log '<root>'")
        return sources.from_internal_log(spark, cmd.args[1].value)
    if kind == "udp":
        # S1 `from udp <port> spool '<dir>'` — Beholder's primary
        # transport. Compiles to the spool-tailing file STREAM
        # (sources.from_udp_stream); the datagram listener is a driver-
        # side UdpSpoolBridge recorded here and started by `--daemon`.
        # Port 0 = ephemeral (tests); the bridge reports the bound port.
        if len(cmd.args) < 4 or cmd.args[2].value != "spool":
            raise ConfigError("`from udp` requires: from udp <port> spool '<dir>'")
        port = int(cmd.args[1].value)
        if not 0 <= port <= 65535:
            raise ConfigError(f"udp port out of range: {port}")
        spool = cmd.args[3].value
        if ctx is not None:
            ctx.setdefault("ingest", []).append(
                (sources.UdpSpoolBridge, {"spool_dir": spool, "port": port})
            )
        return sources.from_udp_stream(spark, spool, source_tag=f"udp://0.0.0.0:{port}")
    if kind == "tcp":
        # S2 live listener. Default/`as newline-terminated`: socket
        # stream (one line per row). `as syslog-frame`: RFC6587
        # octet-counted framing via the TcpSyslogFrameBridge spool —
        # frames may embed newlines, which the socket source cannot
        # carry, so the bridge pattern mirrors `from udp`.
        if len(cmd.args) < 3:
            raise ConfigError("`from tcp` requires: from tcp <host> <port> [as <framing> …]")
        port = int(cmd.args[2].value)
        host = cmd.args[1].value
        framing = "newline-terminated"
        rest = [a.value for a in cmd.args[3:]]
        if rest:
            if rest[0] != "as" or len(rest) < 2:
                raise ConfigError("`from tcp` framing clause: as newline-terminated | as syslog-frame spool '<dir>'")
            framing = rest[1]
        if framing == "syslog-frame":
            if not 0 <= port <= 65535:  # 0 = ephemeral (bridge reports it)
                raise ConfigError(f"tcp port out of range: {port}")
            if len(rest) < 4 or rest[2] != "spool":
                raise ConfigError(
                    "`from tcp … as syslog-frame` requires: spool '<dir>' "
                    "(the octet-counted frame bridge spools JSON lines)"
                )
            spool = rest[3]
            if ctx is not None:
                ctx.setdefault("ingest", []).append(
                    (sources.TcpSyslogFrameBridge, {"spool_dir": spool, "host": host, "port": port})
                )
            return sources.from_tcp_frame_stream(
                spark, spool, source_tag=f"tcp://{host}:{port}"
            )
        if framing != "newline-terminated":
            raise ConfigError(f"unsupported tcp framing: {framing!r}")
        if not 0 < port <= 65535:
            raise ConfigError(f"tcp port out of range: {port}")
        return sources.from_socket_stream(spark, host, port, source_tag=f"tcp://{host}:{port}")
    raise ConfigError(f"unsupported config source: {kind!r}")


def _compile_parse(df: DataFrame, cmd: Command) -> DataFrame:
    kind = cmd.args[0].value
    if kind == "syslog":
        keep = any(a.value == "keep-unparsed" for a in cmd.args[1:])
        return po.parse_syslog(df, col="payload", keep_unparsed=keep)
    if kind == "json":
        src = _field(cmd.args[1])
        fields_ = []
        for a in cmd.args[2:]:
            name, _, typ = a.value.partition(":")
            fields_.append(T.StructField(name.lstrip("$"), _JSON_TYPES[typ or "string"], True))
        return po.parse_json(df, src, T.StructType(fields_))
    if kind == "regexp":
        pat = cmd.args[1].value
        groups = {}
        for a in cmd.args[2:]:
            name, _, idx = a.value.partition(":")
            groups[name.lstrip("$")] = int(idx or len(groups) + 1)
        src = "payload" if "payload" in df.columns else df.columns[0]
        return po.parse_regexp(df, src, pat, groups)
    if kind == "fieldpack":
        # P4: spec-pinned binary field map (operators/parse.py SPEC).
        # Listed $fields project to columns; bare form keeps the dynamic
        # `fields` map (Beholder messages have no fixed schema).
        keep = any(a.value == "keep-unparsed" for a in cmd.args[1:])
        listed = [_field(a) for a in cmd.args[1:] if a.value != "keep-unparsed"]
        return po.parse_fieldpack(df, col="payload", fields=listed or None, keep_unparsed=keep)
    if kind == "beholder-stats":
        # P6: typed counters out of `from internal-log` payload lines —
        # the config-language half of the self-observability loop
        return po.parse_beholder_stats(df, col="payload")
    if kind == "each-field-as-message":
        # P5: one message per field. Listed $fields explode; unlisted
        # columns ride along as identity columns. Bare form explodes
        # every column (pure key/value messages).
        listed = [_field(a) for a in cmd.args[1:]]
        fields_ = listed or list(df.columns)
        ids = [c for c in df.columns if c not in fields_] if listed else []
        return po.each_field_as_message(df, fields_, ids)
    raise ConfigError(f"unsupported parse format: {kind!r}")


def _compile_drop(df: DataFrame, cmd: Command) -> DataFrame:
    if not cmd.args:  # unconditional `drop;` inside a case block is handled there
        raise ConfigError("bare `drop` outside a switch case is not supported; use `drop if`")
    if cmd.args[0].value != "if":
        raise ConfigError("expected `drop if $col == 'value'`")
    col, op, val = _field(cmd.args[1]), cmd.args[2].value, cmd.args[3].value
    if op not in ("==", "!="):
        # fail at compile time: silently treating `>=` or a typo'd `=` as
        # `!=` would drop the complement of the intended rows
        raise ConfigError(f"drop if supports only == and !=, got {op!r}")
    cond = (F.col(col) == F.lit(val)) if op == "==" else (F.col(col) != F.lit(val))
    # SPEC: a NULL field compares unknown → the row is KEPT (quarantine
    # philosophy: never silently drop on missing data; SURVEY.md §2.4 R3)
    return fo.drop_when(df, F.coalesce(cond, F.lit(False)))


def _compile_switch(df: DataFrame, cmd: Command, ctx: dict) -> DataFrame:
    """switch '<tpl>' { case ~re~ {...} default {...} } — the route column
    is a first-match-wins when() chain over the interpolated subject; each
    case's sub-block then applies ONLY to rows of that route (branch
    transformations are guarded per-route, sinks collect per-route
    partitions)."""
    subject = (
        template_column(cmd.args[0].value)
        if cmd.args and cmd.args[0].kind == "quoted"
        else F.col(_field(cmd.args[0])).cast("string")
    )
    cases: list[tuple[Column, str]] = []
    case_blocks: list[tuple[str, list[Command]]] = []
    case_captures: list[tuple[str, str, list[str]]] = []  # (route, pattern, group names)
    default_block: list[Command] | None = None
    for sub in cmd.block or []:
        if sub.name == "case":
            pat = sub.args[0].value
            name = f"case_{len(cases) + 1}"
            cases.append((subject.rlike(pat), name))
            case_blocks.append((name, sub.block or []))
            groups = re.findall(r"\(\?<(\w+)>", pat)
            if groups:
                case_captures.append((name, pat, groups))
        elif sub.name == "default":
            default_block = sub.block or []
        else:
            raise ConfigError(f"unexpected {sub.name!r} inside switch")
    default_name = "default" if default_block is not None else ro.UNMATCHED
    df = df.withColumn("route", ro.route_expr(cases, default_name))
    # R2 case-capture: named groups in a case regex become fields on the
    # rows that matched that case (NULL elsewhere). Group index = position
    # among the pattern's capturing groups (named groups only, no
    # unnamed-group interleaving supported — documented subset).
    for name, pat, groups in case_captures:
        for gi, gname in enumerate(groups, start=1):
            # preserve-existing: when two cases capture the same group
            # name, the later case must not NULL out rows the earlier
            # case already filled (same pattern as guarded `set` below)
            existing = F.col(gname) if gname in df.columns else F.lit(None).cast("string")
            df = df.withColumn(
                gname,
                F.when(
                    F.col("route") == name, F.regexp_extract(subject, pat, gi)
                ).otherwise(existing),
            )
    # apply each case's sub-pipeline to its slice only: `drop;` discards
    # the route, `to file` registers a per-route sink, `set $f '<tpl>'`
    # assigns guarded by route (other routes keep their value / NULL).
    for name, block in [*case_blocks, (default_name, default_block or [])]:
        for sub in block:
            if sub.name == "drop" and not sub.args:
                df = df.filter(F.col("route") != name)
            elif sub.name == "to":
                # capture this route's slice at the current point — a
                # later `drop;` in the same case block does not unwrite it
                _collect_sink(sub, ctx, df.filter(F.col("route") == name), route=name)
            elif sub.name == "set" and len(sub.args) == 2 and sub.args[1].kind == "quoted":
                fname = _field(sub.args[0])
                expr = template_column(sub.args[1].value)
                existing = F.col(fname) if fname in df.columns else F.lit(None).cast("string")
                df = df.withColumn(
                    fname, F.when(F.col("route") == name, expr).otherwise(existing)
                )
            else:
                raise ConfigError(f"unsupported command {sub.name!r} inside case block")
    return df


def _collect_sink(
    cmd: Command, ctx: dict, df: DataFrame, route: str | None = None
) -> None:
    """Register a `to file` sink, CAPTURING the lazy DataFrame as it is at
    this point in the flow (for a case-block sink: already sliced to the
    route) — later commands cannot retroactively change the sink. The
    flow's current `buffer` setting (K5) is captured with it."""
    kind = cmd.args[0].value
    if kind == "stdout":
        # K1 debug sink: rows printed at execution (driver-side show —
        # a bounded debug surface, never a data path)
        ctx["sinks"].append({"kind": "stdout", "route": route, "df": df})
        return
    if kind in ("tcp", "udp"):
        # K3 live network sinks: `to tcp 'host:port'` / `to udp 'host:port'`
        if len(cmd.args) < 2:
            raise ConfigError(f"`to {kind}` needs a 'host:port' address")
        addr = cmd.args[1].value
        host, _, port = addr.rpartition(":")
        if host.startswith("[") and host.endswith("]"):
            host = host[1:-1]  # bracketed IPv6 literal: [::1]:514
        elif ":" in host:
            raise ConfigError(
                f"`to {kind}`: ambiguous address {addr!r} — bracket IPv6 "
                "literals as '[addr]:port'"
            )
        if not host or not port.isdigit() or not (0 < int(port) <= 65535):
            raise ConfigError(f"`to {kind}` needs 'host:port' (port 1–65535), got {addr!r}")
        if "payload" not in df.columns:
            # compile-time check — without it the hardcoded column would
            # only fail inside executor tasks at send time
            raise ConfigError(
                f"`to {kind}` sends the `payload` field, but the flow has no "
                "`payload` column at this point (was it dropped or renamed?)"
            )
        ctx["sinks"].append(
            {"kind": kind, "route": route, "df": df, "host": host, "port": int(port)}
        )
        return
    if kind == "shell":
        # K4 `to shell 'command'`: partition rows stream into the
        # command's stdin on the executors (sinks.send_partition_to_shell)
        if len(cmd.args) < 2 or cmd.args[1].kind != "quoted":
            raise ConfigError("`to shell` needs a quoted command: to shell 'cmd'")
        if "payload" not in df.columns:
            raise ConfigError(
                "`to shell` pipes the `payload` field, but the flow has no "
                "`payload` column at this point (was it dropped or renamed?)"
            )
        ctx["sinks"].append(
            {"kind": "shell", "route": route, "df": df, "command": cmd.args[1].value}
        )
        return
    if kind != "file":
        raise ConfigError(
            "only `to file '<tpl>'`, `to stdout`, `to tcp 'host:port'`, "
            "`to udp 'host:port'`, and `to shell 'cmd'` sinks are supported"
        )
    tpl = cmd.args[1].value
    ctx["sinks"].append(
        {
            "kind": "file",
            "path_template": tpl,
            "partition_fields": template_fields(tpl),
            "route": route,
            "df": df,
            "max_records_per_file": ctx.get("buffer"),
        }
    )


def compile_config(text: str) -> CompiledPipeline:
    """Compile config text into a DataFrame transformation + sink specs.

    The transformation is pure (no actions); run the sinks with
    :func:`run_config_pipeline`. Each sink spec captures the (lazy)
    DataFrame at the point its ``to file`` appeared — Beholder order
    semantics: commands after a ``to`` do not retroactively change what
    that sink writes. ``sinks`` is rebuilt on every invocation, so one
    compiled config can drive any number of inputs.

    Invocation forms: ``compiled(df)`` uses the caller's scan as the
    source (top-level ``from`` is then a placeholder, Beholder's listener
    address); ``compiled(None, spark=spark)`` makes the config
    SELF-SOURCING — the first top-level ``from parquet|text|timer|
    infinity`` builds the scan itself.
    """
    cmds = parse_config(text)
    sinks: list[dict] = []
    compiled = CompiledPipeline(transform=None, sinks=sinks)

    def transform(df: DataFrame | None, spark: SparkSession | None, replay) -> DataFrame:
        sinks.clear()  # fresh capture per invocation (reusable compile)
        ctx = {"sinks": sinks, "buffer": None, "spark": spark, "streams": [], "replay": replay}
        out = df
        for cmd in cmds:
            out = _apply(out, cmd, ctx)
        if out is None:
            raise ConfigError("config has no source: pass a DataFrame or start with `from …`")
        compiled.source_df = ctx.get("source_df")
        compiled.ingest = ctx.get("ingest", [])
        compiled.streams = ctx["streams"]
        return out

    compiled.transform = transform
    return compiled


def _apply(df: DataFrame | None, cmd: Command, ctx: dict) -> DataFrame:
    if cmd.name == "from":
        if df is None:
            # self-sourcing entry: the config's own `from` builds the scan
            if ctx.get("spark") is None:
                raise ConfigError("self-sourcing config needs spark= to compile `from …`")
            ctx["source_df"] = _compile_from(ctx["spark"], cmd, ctx)
            return ctx["source_df"]
        return df  # source selection is the caller's scan (S1/S2 ≡ input table)
    if df is None:
        raise ConfigError(f"`{cmd.name}` before any source: start the config with `from …`")
    if cmd.name == "flow":
        for sub in cmd.block or []:
            df = _apply(df, sub, ctx)
        return df
    if cmd.name == "join":
        # C3 `join { from … ; … }`: a subflow's output merges into this
        # flow — a stream UNION in Beholder, unionByName here. The
        # subflow's `from` names its own source scan.
        sub_df = None
        for sub in cmd.block or []:
            if sub.name == "from":
                sub_df = _compile_from(df.sparkSession, sub, ctx)
                if sub_df.isStreaming:  # a second live listener
                    ctx["streams"].append(sub_df)
                    if ctx["replay"] is not None:  # its share of the micro-batch
                        sub_df = ctx["replay"][len(ctx["streams"]) - 1]
            else:
                if sub_df is None:
                    raise ConfigError("join block must start with `from …`")
                sub_df = _apply(sub_df, sub, ctx)
        if sub_df is None:
            raise ConfigError("join block must contain `from …`")
        return df.unionByName(sub_df, allowMissingColumns=True)
    if cmd.name == "parse":
        return _compile_parse(df, cmd)
    if cmd.name == "set":
        return _compile_set(df, cmd)
    if cmd.name == "keep":
        return fo.keep(df, *[_field(a) for a in cmd.args])
    if cmd.name == "drop":
        return _compile_drop(df, cmd)
    if cmd.name == "switch":
        return _compile_switch(df, cmd, ctx)
    if cmd.name == "buffer":
        # K5 sender buffer: Spark's analogue of sink batching is file
        # sizing — the CURRENT buffer value is captured by each later
        # `to file` as maxRecordsPerFile (a visible effect, not a no-op;
        # batch only — _check_stream_sinks rejects it in streaming)
        if not cmd.args:
            raise ConfigError("buffer requires a row count")
        ctx["buffer"] = int(cmd.args[0].value)
        return df
    if cmd.name == "to":
        _collect_sink(cmd, ctx, df)
        return df
    if cmd.name == "tee":
        # side block shares the parent DAG; its sinks are collected, its
        # transformations do NOT affect the main flow (C2)
        side = df
        for sub in cmd.block or []:
            side = _apply(side, sub, ctx)
        return df
    raise ConfigError(f"unsupported command: {cmd.name!r}")


def run_config_pipeline(
    spark: SparkSession,
    df: DataFrame | None,
    config_text: str,
    out_root: str,
    dry_run: bool = False,
) -> dict[str, DataFrame]:
    """Execute a config over an input DataFrame: one write per sink, each
    from the DataFrame captured at its `to file` command; field-templated
    paths ≡ partition columns of that write (SURVEY.md §2.6 K2).

    Multi-sink economics: the source is persisted once so the K sink
    writes recompute only their transform suffixes from cached rows, not
    K scans of the source — the filtered-branch strategy of SURVEY.md
    §4.2. Each file sink is one :func:`sinks.write_table` call,
    clustered by its path fields: one file per directory, not one per
    task × directory.

    ``df=None`` lets a self-sourcing config (top-level ``from parquet
    '<path>'`` / ``from text '<path>'``) name its own scan — the whole
    job then comes from config text alone, Beholder-style.

    ``dry_run=True`` is the ``beholder --test`` analogue: the config is
    tokenized, compiled, and every sink's plan is ANALYZED (schema
    resolution — unknown columns/functions fail here), but nothing is
    executed or written; returns the lazy per-sink DataFrames.
    """
    compiled = compile_config(config_text)
    if df is None:
        final = compiled(None, spark=spark)  # self-sourcing config
        if final.isStreaming:
            # fail with a front-end error here, not Spark's raw
            # "streaming sources must be executed with writeStream" later
            raise ConfigError(
                "`from udp` / `from tcp` are streaming sources — run this "
                "config with `--daemon` (or run_config_stream)"
            )
        # persist the config-built scan so K sinks cost ONE source
        # computation — the same economics as the caller-df branch below
        src = compiled.source_df
        if src is not None and not dry_run:
            src.persist()
    else:
        df = df.persist() if not dry_run else df
        final = compiled(df)
        src = df
    try:
        if dry_run:
            for sink in compiled.sinks:
                sink["df"].schema  # force analysis: resolution errors surface
            final.schema
            return {f"sink_{i}": s["df"] for i, s in enumerate(compiled.sinks)}
        results: dict[str, DataFrame] = {}
        for i, sink in enumerate(compiled.sinks):
            slice_df = sink["df"]
            if sink.get("kind") == "stdout":
                slice_df.show(20, truncate=False)  # K1 debug sink
                results[f"sink_{i}"] = slice_df
                continue
            if sink.get("kind") == "shell":
                # K4: executor-side subprocess per partition
                slice_df.foreachPartition(
                    sk.send_partition_to_shell(sink["command"], "payload")
                )
                results[f"sink_{i}"] = slice_df
                continue
            if sink.get("kind") in ("tcp", "udp"):
                # K3 live network sinks: executor-side senders, one
                # connection/socket per partition (never via the driver)
                mk = (
                    sk.send_partition_to_socket
                    if sink["kind"] == "tcp"
                    else sk.send_partition_to_udp
                )
                slice_df.foreachPartition(mk(sink["host"], sink["port"], "payload"))
                results[f"sink_{i}"] = slice_df
                continue
            part_cols = [f for f in sink["partition_fields"] if f in slice_df.columns]
            path = os.path.join(out_root, f"sink_{i}")
            sk.write_table(
                slice_df, path, part_cols, max_records_per_file=sink.get("max_records_per_file")
            )
            results[f"sink_{i}"] = spark.read.parquet(path)
        return results
    finally:
        if src is not None and not dry_run:
            src.unpersist()


def _check_stream_sinks(compiled: CompiledPipeline) -> None:
    """Reject the sinks the streaming runner cannot honour: non-file sinks
    are not replay-idempotent, and the manifested stages write without
    ``maxRecordsPerFile``, so a ``buffer N`` before a ``to file`` would
    be silently ignored. :func:`run_config_stream` and
    :meth:`ConfigStreamSupervisor.reload` both call this, so reload's dry
    validation rejects exactly what the runner rejects."""
    bad = sorted({s["kind"] for s in compiled.sinks if s["kind"] != "file"})
    if bad:
        raise ConfigError(
            "streaming fan-out supports `to file` sinks only (they land "
            f"through the exactly-once manifested stages); found {bad} — "
            "run live-network/stdout sinks from a downstream batch read "
            "of the manifested table"
        )
    if any(s["max_records_per_file"] for s in compiled.sinks):
        raise ConfigError(
            "`buffer N` (maxRecordsPerFile) applies to batch `to file` sinks "
            "only; the streaming runner writes without it — remove the "
            "`buffer` command"
        )


def run_config_stream(
    spark: SparkSession,
    stream_df: DataFrame | None,
    config_text: str,
    out_root: str,
    checkpoint_path: str,
    stage: str = "config_sink",
    available_now: bool = True,
):
    """Run a Beholder config as a LONG-RUNNING STREAM — the daemon
    execution mode the reference actually ships as (``--daemon``). The
    SOURCE — the union of the top-level source and every ``join { from
    udp|tcp … }`` listener — is streamed with ONE checkpoint; each
    micro-batch re-runs the
    SAME compiled command tree in BATCH mode (every stage is a column
    expression or when()-chain — mode-agnostic by construction), and ONE
    foreachBatch writer lands its frames through the batch engine's
    manifest machinery (:func:`beholder_spark.plans.lineage.run_stage`)
    EXACTLY ONCE, even across streaming-checkpoint loss.

    Exactly-once survives a lost checkpoint because each row's manifest
    partition is ``_batch=f<md5(source file)>``
    (:func:`beholder_spark.streaming.batch_key_col`), NOT the micro-batch
    id: after checkpoint loss batch ids restart at 0, and if the source
    GREW since the original run the replayed batch 0 holds old+new files.
    File-keyed partitions skip exactly the already-manifested files and
    append exactly the new ones; a batch that crashed mid-write leaves
    only an invisible orphan run dir. When the batch plan erases file
    provenance (non-file sources), rows key on ``_batch=b<id>`` and
    checkpoint loss is only replay-safe while the source is unchanged.

    The final frame lands at ``stage``, and every ``to file`` sink
    (``tee { to file '…' }`` + the main flow — Beholder's
    bread-and-butter fan-out) at ``sink_0 … sink_{K-1}`` (declaration
    order, its path fields as partition columns) — exactly once PER
    SINK, surviving checkpoint loss and supervisor config reloads.
    Non-file sinks (stdout/tcp/udp/shell) and ``buffer N`` are rejected
    (see :func:`_check_stream_sinks`).
    ``stream_df=None`` makes the config self-sourcing (its top-level
    ``from udp|tcp`` builds the stream). Returns the started
    StreamingQuery.
    """
    from beholder_spark.plans import lineage as ln
    from beholder_spark.streaming import batch_key_col

    compiled = compile_config(config_text)
    compiled(stream_df, spark=spark)
    _check_stream_sinks(compiled)
    # ONE streamed union of the live scans, each row tagged with its
    # scan's index; a micro-batch splits it back into each scan's share
    scans = [stream_df if stream_df is not None else compiled.source_df, *compiled.streams]
    source = scans[0].withColumn("_scan", F.lit(0))
    for i, s in enumerate(scans[1:], 1):
        source = source.unionByName(s.withColumn("_scan", F.lit(i)), allowMissingColumns=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Deliberately NO persist of the batch slice: caching it severs
        # input_file_name() provenance (an InMemoryTableScan scans no
        # file), which would degrade every manifest key below to
        # b<batch_id> — and after a streaming-checkpoint loss on a grown
        # spool the replayed batch 0 would anti-join ALL its rows away
        # against the already-manifested 'b0', silently dropping the new
        # files' rows. K sinks therefore recompute their transform
        # suffixes from the (small) spool micro-batch: correctness over
        # cached-once economics.
        share = [
            batch_df.filter(F.col("_scan") == i).drop(*set(batch_df.columns) - set(s.columns))
            for i, s in enumerate(scans)
        ]
        batch_final = compiled(share[0], replay=share[1:])  # recaptures the sinks in batch mode
        frames = [
            (f"sink_{i}", s["df"], s["partition_fields"]) for i, s in enumerate(compiled.sinks)
        ]
        frames.append((stage, batch_final, []))
        key = batch_key_col(batch_id)
        for st, frame, fields in frames:
            ln.run_stage(
                # the caller's session, not the batch's clone: the
                # manifest appends' createDataFrame makes its session the
                # process-wide active one, which get_spark() then returns
                spark,
                out_root,
                st,
                frame.withColumn("_batch", key),
                partition_col="_batch",
                partition_by=[f for f in fields if f in frame.columns],
                # no rebalance: each _batch directory is one source file,
                # which one scan task reads whole — a shuffle would cost
                # time and save no file
                rebalance=False,
            )

    w = source.writeStream.foreachBatch(write_batch).option("checkpointLocation", checkpoint_path)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


class ConfigStreamSupervisor:
    """SIGHUP hot-reload parity (SURVEY.md §3.1): run a config as a
    long-running stream and swap the pipeline ATOMICALLY on reload.

    The reference re-parses its config on SIGHUP and replaces the
    conveyor only if the new text compiles — a broken config keeps the
    old pipeline running. Mapping here: :meth:`reload` dry-validates the
    new text against a fresh streaming scan (parse + full schema
    analysis), then stops the StreamingQuery (Spark finishes or abandons
    the in-flight micro-batch; the manifested sink makes either outcome
    replay-safe) and restarts the recompiled pipeline on the SAME
    checkpoint and SAME manifested sink — file-source offsets carry
    over, already-manifested batches are never re-appended, so the swap
    loses and duplicates nothing. Stateless configs only (every config
    command compiles to projections/filters/when-chains), which is what
    makes restarting a changed plan on one checkpoint legal.

    Swap signals, mirroring the daemon contract:

    - explicit :meth:`reload` (the test / embedding API);
    - :meth:`poll` — reloads when :attr:`hup` is set (``--daemon``'s
      ``SIGHUP`` handler sets it) or the config file's mtime moved.
      ``--daemon`` calls it from its one-second main loop, so a reload
      and the health check (:meth:`raise_if_failed`) never overlap.

    ``stream_factory`` must return a FRESH streaming DataFrame per call
    (a streaming scan is bound to its query); schema-changing reloads
    should use a fresh ``stage`` name — the manifested parquet table
    keeps one schema per stage.
    """

    def __init__(
        self,
        spark: SparkSession,
        config_path: str,
        stream_factory,
        out_root: str,
        checkpoint_path: str,
        stage: str = "config_sink",
    ):
        self.spark = spark
        self.config_path = config_path
        self.stream_factory = stream_factory
        self.out_root = out_root
        self.checkpoint_path = checkpoint_path
        self.stage = stage
        self.query = None
        self.config_text: str | None = None
        self.generation = 0  # bumps on every successful (re)start
        self.last_error: Exception | None = None
        self.hup = False  # set by the SIGHUP handler; the next poll() reloads
        self._mtime: float | None = None

    def start(self) -> "ConfigStreamSupervisor":
        # mtime baseline BEFORE the read: an edit landing after it moves
        # the mtime, so the next poll() applies it
        self._mtime = os.path.getmtime(self.config_path)
        with open(self.config_path, encoding="utf-8") as f:
            text = f.read()
        self._start_query(text)
        return self

    def _start_query(self, text: str) -> None:
        self.query = run_config_stream(
            self.spark,
            self.stream_factory(),
            text,
            self.out_root,
            self.checkpoint_path,
            stage=self.stage,
            available_now=False,
        )
        self.config_text = text
        self.generation += 1

    def reload(self) -> bool:
        """Re-read the config file; swap if it changed AND compiles.

        Returns True on swap. Unchanged text → False (no churn). Broken
        text or an unreadable file (say, unlinked mid-deploy) → False with
        the error in :attr:`last_error`; the OLD pipeline keeps running
        untouched (reference SIGHUP semantics).
        """
        self.hup = False
        try:
            with open(self.config_path, encoding="utf-8") as f:
                text = f.read()
            if text == self.config_text:
                return False
            # full dry validation BEFORE touching the running query:
            # parse, compile, force schema analysis on a fresh scan, AND
            # apply run_config_stream's own restrictions (a `to …` sink
            # is valid batch config but would only fail inside
            # _start_query — after the old query was already stopped)
            compiled = compile_config(text)
            final = compiled(self.stream_factory(), spark=self.spark)
            final.schema
            for s in compiled.sinks:
                s["df"].schema  # sink slices analyze too
            _check_stream_sinks(compiled)
        except Exception as e:  # noqa: BLE001 — any compile/analysis failure
            self.last_error = e
            return False
        self.last_error = None
        old_text = self.config_text
        self.query.stop()  # micro-batch boundary; manifested sink is swap-safe
        try:
            self._start_query(text)
        except Exception as e:  # noqa: BLE001 — dry-validation gap
            # the old query is already stopped: roll back to the old
            # pipeline rather than leaving the daemon dead (if even the
            # rollback fails, that is genuinely fatal: it raises)
            self.last_error = e
            self._start_query(old_text)
            return False
        return True

    def poll(self) -> bool:
        """:meth:`reload` if :attr:`hup` is set or the config file's mtime
        moved since the last look; returns True on swap."""
        try:
            mtime = os.path.getmtime(self.config_path)
        except OSError:
            return False  # config mid-rewrite; the next poll sees it
        if not self.hup and mtime == self._mtime:
            return False
        self._mtime = mtime
        return self.reload()

    def raise_if_failed(self) -> None:
        """Raise RuntimeError if the query is inactive — it failed or was
        stopped from outside — so the daemon exits non-zero instead of
        idling healthy (the bridges' :meth:`raise_if_failed` contract).
        Call it from the thread that calls :meth:`poll`: a reload in
        progress is then never mistaken for a dead query."""
        if not self.query.isActive:
            raise RuntimeError(
                f"streaming query stopped outside a reload "
                f"(generation {self.generation}, last_error={self.last_error!r}, "
                f"exception={self.query.exception()})"
            )

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
