"""``sequin`` command-line interface.

Mirrors the reference Go CLI (cli/main.go:30-35 — context, tunnel and
config command groups; cli/cli/context_command.go:28-75 for the context
verbs; cli/cli/config_command.go:27-60 for ``config plan|apply|export|
interpolate``) plus the resource verbs the REST layer already exposes
(sinks list/show/delete, backfills create/pause/resume — the surface
``sequin_web``'s controllers serve).

Behavioral parity points, each against the named reference site:

* Contexts are JSON files ``<dir>/<name>.json`` with the reference's
  field names (cli/context/context.go:12-21: name/hostname/tls/
  api_token/default/tunnelPorts); the directory defaults to
  ``~/.sequin/contexts`` (context.go SaveContext) and is overridable via
  ``SEQUIN_CONTEXT_DIR`` so tests never write outside a sandbox.
* ``--tls`` default: local hostnames ⇒ plain HTTP, remote ⇒ HTTPS
  (context_command.go:100-107 isLocalHostname branch).
* YAML preprocessing before plan/apply/interpolate
  (cli/config/config.go processYAML): environment-variable substitution
  on every string scalar EXCEPT values under a ``code`` key
  (config.go:117-161 applyEnvSubst skip rule), then ``functions:``
  entries with a ``file:`` key get the file's contents inlined as
  ``code`` resolved relative to the YAML's directory
  (config.go:234-258 processFileInFunction).
* ``config apply`` first plans, prints the diff, and requires the
  literal answer ``yes`` unless ``--auto-approve``
  (config_command.go:62-90 applyAction).
* Backfill pause/resume/cancel go through the state machine via
  ``PATCH {"state": ...}`` (backfill_controller.ex update → transition).

All network calls are stdlib urllib against the in-process
``ConfigApiServer`` (plans/config_api.py) or any real deployment.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import urllib.error
import urllib.parse
import urllib.request


# ---------------------------------------------------------------------------
# context store (cli/context/context.go)
# ---------------------------------------------------------------------------

def _context_dir() -> str:
    return os.environ.get(
        "SEQUIN_CONTEXT_DIR",
        os.path.join(os.path.expanduser("~"), ".sequin", "contexts"),
    )


def _context_path(name: str) -> str:
    if not re.fullmatch(r"[A-Za-z0-9._-]+", name or ""):
        raise CliError(f"invalid context name: {name!r}")
    return os.path.join(_context_dir(), f"{name}.json")


class CliError(Exception):
    pass


def _is_local_hostname(hostname: str) -> bool:
    """context_command.go isLocalHostname: localhost / loopback ⇒ no TLS."""
    host = (hostname or "").split(":")[0].lower()
    return host in ("localhost", "127.0.0.1", "::1", "") or host.endswith(
        ".localhost"
    )


def save_context(ctx: dict) -> str:
    os.makedirs(_context_dir(), exist_ok=True)
    path = _context_path(ctx["name"])
    if ctx.get("default"):
        # only one default (context.go SaveContext clears prior defaults)
        for other in list_contexts():
            if other["name"] != ctx["name"] and other.get("default"):
                other["default"] = False
                with open(_context_path(other["name"]), "w") as f:
                    json.dump(other, f, indent=2)
    with open(path, "w") as f:
        json.dump(ctx, f, indent=2)
    return path


def load_context(name: str | None) -> dict:
    """Named context, else the default one, else a singleton
    (context.go LoadContext fallback order)."""
    if name:
        try:
            with open(_context_path(name)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise CliError(f"context {name!r} not found") from None
    ctxs = list_contexts()
    for c in ctxs:
        if c.get("default"):
            return c
    if len(ctxs) == 1:
        return ctxs[0]
    raise CliError(
        "no context selected — run `sequin context add <name> "
        "--hostname ... --api-token ...` or pass --context"
    )


def list_contexts() -> list[dict]:
    d = _context_dir()
    if not os.path.isdir(d):
        return []
    out = []
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".json"):
            try:
                with open(os.path.join(d, fn)) as f:
                    out.append(json.load(f))
            except (OSError, json.JSONDecodeError):
                continue
    return out


def server_url(ctx: dict) -> str:
    """context.go GetServerURL: protocol from the tls flag."""
    hostname = ctx.get("hostname") or ""
    if not hostname:
        raise CliError("hostname is not set in context")
    proto = "https" if ctx.get("tls") else "http"
    return f"{proto}://{hostname}"


# ---------------------------------------------------------------------------
# HTTP client (cli/config/config.go sendYAML / api client)
# ---------------------------------------------------------------------------

def _request(ctx: dict, method: str, path: str, body: dict | None = None):
    url = server_url(ctx) + path
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, method=method)
    req.add_header("Content-Type", "application/json")
    token = ctx.get("api_token")
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, json.loads(resp.read().decode() or "{}")
    except urllib.error.HTTPError as e:
        try:
            payload = json.loads(e.read().decode() or "{}")
        except json.JSONDecodeError:
            payload = {"error": str(e)}
        return e.code, payload
    except urllib.error.URLError as e:
        raise CliError(f"could not reach {url}: {e.reason}") from None


def _fail_on_error(status: int, payload: dict) -> dict:
    if status >= 400:
        msg = payload.get("error") or payload.get("errors") or payload
        raise CliError(f"server returned {status}: {json.dumps(msg)}")
    return payload


# ---------------------------------------------------------------------------
# YAML preprocessing (cli/config/config.go processYAML)
# ---------------------------------------------------------------------------

_ENV_RE = re.compile(
    r"\$(?:(\w+)|\{(\w+)(?::-([^}]*))?\})"
)


def _envsubst(value: str) -> str:
    """$VAR / ${VAR} / ${VAR:-default} — the envsubst subset the
    reference's YAML actually uses (config.go:152)."""

    def repl(m: re.Match) -> str:
        name = m.group(1) or m.group(2)
        default = m.group(3)
        v = os.environ.get(name)
        if v is None:
            return default if default is not None else ""
        return v

    return _ENV_RE.sub(repl, value)


def _apply_envsubst(node, skip: bool = False):
    """Substitute every string scalar except values under a ``code`` key
    (config.go applyEnvSubstInternal: transform code is user source, not
    config)."""
    if isinstance(node, dict):
        return {
            k: _apply_envsubst(v, skip or k == "code")
            for k, v in node.items()
        }
    if isinstance(node, list):
        return [_apply_envsubst(v, skip) for v in node]
    if isinstance(node, str) and not skip:
        return _envsubst(node)
    return node


def _inline_function_files(doc, yaml_dir: str):
    """functions: [{file: path, ...}] → read file, store as ``code``
    (config.go processFileInFunction: path resolved against the YAML's
    own directory)."""
    if not isinstance(doc, dict) or "functions" not in doc:
        return doc
    fns = doc["functions"]
    single = isinstance(fns, dict)
    items = [fns] if single else list(fns) if isinstance(fns, list) else None
    if items is None:
        return doc
    out = []
    for item in items:
        if isinstance(item, dict) and isinstance(item.get("file"), str):
            path = item["file"]
            if not os.path.isabs(path):
                path = os.path.join(yaml_dir, path)
            if not os.path.isfile(path):
                raise CliError(f"file not found: {item['file']}")
            with open(path) as f:
                code = f.read()
            item = {k: v for k, v in item.items() if k != "file"}
            item["code"] = code
        out.append(item)
    doc = dict(doc)
    doc["functions"] = out[0] if single else out
    return doc


def preprocess_yaml(yaml_path: str) -> str:
    """Read + envsubst + function-file inlining; returns YAML text ready
    to POST (config.go processYAML). ``-`` reads stdin."""
    import yaml as _yaml

    if yaml_path == "-":
        raw = sys.stdin.read()
        yaml_dir = os.getcwd()
    else:
        try:
            with open(yaml_path) as f:
                raw = f.read()
        except FileNotFoundError:
            raise CliError(f"failed to read YAML file: {yaml_path}") from None
        yaml_dir = os.path.dirname(os.path.abspath(yaml_path))
    try:
        doc = _yaml.safe_load(raw) or {}
    except _yaml.YAMLError as e:
        raise CliError(f"failed to parse YAML: {e}") from None
    doc = _apply_envsubst(doc)
    doc = _inline_function_files(doc, yaml_dir)
    return _yaml.safe_dump(doc, sort_keys=False)


# ---------------------------------------------------------------------------
# command actions
# ---------------------------------------------------------------------------

def _print(out, obj) -> None:
    print(json.dumps(obj, indent=2), file=out)


def cmd_context_add(args, out) -> int:
    tls = args.tls
    if tls is None:
        # local ⇒ plain-HTTP, remote ⇒ HTTPS (context_command.go:100-107)
        tls = not _is_local_hostname(args.hostname or "")
    ctx = {
        "name": args.name,
        "hostname": args.hostname or "",
        "tls": tls,
        "api_token": args.api_token or "",
        "portal_hostname": args.portal_base_url or "",
        "default": bool(args.set_default) or not list_contexts(),
    }
    if args.tunnel_ports:
        ctx["tunnelPorts"] = _parse_tunnel_ports(args.tunnel_ports)
    save_context(ctx)
    print(f"Context {args.name!r} saved.", file=out)
    return 0


def _parse_tunnel_ports(spec: str) -> list[dict]:
    """port:nameOrId[,port:nameOrId] (context_command.go parseTunnelPorts)."""
    out = []
    for part in spec.split(","):
        bits = part.strip().split(":")
        if len(bits) != 2 or not bits[0].isdigit():
            raise CliError(f"invalid tunnel port mapping: {part!r}")
        out.append({"port": bits[0], "nameOrId": bits[1]})
    return out


def cmd_context_ls(args, out) -> int:
    for c in list_contexts():
        mark = "*" if c.get("default") else " "
        print(f"{mark} {c['name']:<20} {c.get('hostname', '')}", file=out)
    return 0


def cmd_context_info(args, out) -> int:
    ctx = load_context(args.name)
    shown = dict(ctx)
    if shown.get("api_token"):
        shown["api_token"] = "****" + shown["api_token"][-4:]
    _print(out, shown)
    return 0


def cmd_context_rm(args, out) -> int:
    path = _context_path(args.name)
    try:
        os.remove(path)
    except FileNotFoundError:
        raise CliError(f"context {args.name!r} not found") from None
    print(f"Context {args.name!r} removed.", file=out)
    return 0


def cmd_context_select(args, out) -> int:
    ctx = load_context(args.name)
    ctx["default"] = True
    save_context(ctx)
    print(f"Context {args.name!r} is now the default.", file=out)
    return 0


def _print_plan(payload: dict, out) -> int:
    """Render the plan envelope; returns the number of actual changes
    (config_command.go planAction: counts non-unchanged entries)."""
    changes = payload.get("changes", [])
    real = [c for c in changes if c.get("action") != "unchanged"]
    if not real:
        print("No changes detected", file=out)
        return 0
    for c in real:
        print(f"{c['action']:>9}  {c.get('resource', '?')}  "
              f"{c.get('name', '?')}", file=out)
    print(f"\nPlan: {len(real)} change(s)", file=out)
    return len(real)


def cmd_config_plan(args, out) -> int:
    ctx = load_context(args.context)
    yaml_text = preprocess_yaml(args.file)
    status, payload = _request(ctx, "POST", "/api/config/plan",
                               {"yaml": yaml_text})
    _fail_on_error(status, payload)
    _print_plan(payload, out)
    return 0


def cmd_config_apply(args, out) -> int:
    ctx = load_context(args.context)
    yaml_text = preprocess_yaml(args.file)
    status, payload = _request(ctx, "POST", "/api/config/plan",
                               {"yaml": yaml_text})
    _fail_on_error(status, payload)
    n = _print_plan(payload, out)
    if n == 0:
        print("No changes detected, exiting.", file=out)
        return 0
    if not args.auto_approve:
        # only the literal 'yes' confirms (config_command.go:77-85)
        print("\nDo you want to apply these changes? Only 'yes' will be "
              "accepted to confirm: ", file=out, end="")
        answer = sys.stdin.readline().strip()
        if answer != "yes":
            print("Apply cancelled.", file=out)
            return 1
    status, payload = _request(ctx, "POST", "/api/config/apply",
                               {"yaml": yaml_text})
    _fail_on_error(status, payload)
    print(f"Applied {len(payload.get('resources', []))} resources",
          file=out)
    print("\nApply complete!", file=out)
    return 0


def cmd_config_export(args, out) -> int:
    ctx = load_context(args.context)
    qs = "?show-sensitive=true" if args.show_sensitive else ""
    status, payload = _request(ctx, "GET", "/api/config/export" + qs)
    _fail_on_error(status, payload)
    print(payload.get("yaml", ""), file=out, end="")
    return 0


def cmd_config_interpolate(args, out) -> int:
    text = preprocess_yaml(args.file)
    if args.output:
        with open(args.output, "w") as f:
            f.write(text)
        print(f"Interpolated YAML written to {args.output}", file=out)
    else:
        print(text, file=out, end="")
    return 0


def cmd_sinks_list(args, out) -> int:
    ctx = load_context(args.context)
    status, payload = _request(ctx, "GET", "/api/sinks")
    _fail_on_error(status, payload)
    if args.json:
        _print(out, payload["data"])
        return 0
    for s in payload.get("data", []):
        dest = (s.get("destination") or {}).get("type", "?")
        print(f"{s.get('name', '?'):<32} {dest:<14} "
              f"{s.get('status', '')}", file=out)
    return 0


def cmd_sinks_show(args, out) -> int:
    ctx = load_context(args.context)
    status, payload = _request(ctx, "GET", f"/api/sinks/{args.name}")
    _fail_on_error(status, payload)
    _print(out, payload)
    return 0


def _spec_from_args(args) -> dict:
    """Sink spec from --file (JSON/YAML) and/or repeated --set k=v
    overrides (values JSON-parsed when possible, raw string otherwise)."""
    import json as _json

    spec: dict = {}
    if getattr(args, "file", None):
        try:
            with open(args.file) as f:
                raw = f.read()
        except OSError as e:
            raise CliError(f"cannot read {args.file}: {e}") from None
        try:
            spec = _json.loads(raw)
        except ValueError:
            try:
                import yaml

                spec = yaml.safe_load(raw)
            except Exception as e:  # YAMLError / missing PyYAML
                raise CliError(
                    f"{args.file}: neither valid JSON nor YAML ({e})"
                ) from None
        if not isinstance(spec, dict):
            raise CliError(f"{args.file}: expected a mapping at top level")
    for kv in getattr(args, "set", None) or []:
        if "=" not in kv:
            raise CliError(f"--set expects key=value, got {kv!r}")
        k, v = kv.split("=", 1)
        try:
            spec[k] = _json.loads(v)
        except ValueError:
            spec[k] = v
    if not spec:
        raise CliError("nothing to submit: pass --file and/or --set")
    return spec


def cmd_sinks_add(args, out) -> int:
    """``sequin consumer add`` analog (consumer_command.go:35): create a
    sink consumer from a spec file / flags via POST /api/sinks."""
    ctx = load_context(args.context)
    spec = _spec_from_args(args)
    status, payload = _request(ctx, "POST", "/api/sinks", spec)
    _fail_on_error(status, payload)
    if args.json:
        _print(out, payload)
    else:
        print(f"Sink {payload.get('name', '?')!r} created.", file=out)
    return 0


def cmd_sinks_edit(args, out) -> int:
    """``sequin consumer edit`` analog (consumer_command.go:86): partial
    update of a sink consumer via PATCH /api/sinks/:name."""
    ctx = load_context(args.context)
    spec = _spec_from_args(args)
    status, payload = _request(ctx, "PATCH", f"/api/sinks/{args.name}", spec)
    _fail_on_error(status, payload)
    if args.json:
        _print(out, payload)
    else:
        print(f"Sink {payload.get('name', args.name)!r} updated.", file=out)
    return 0


def cmd_sinks_rm(args, out) -> int:
    ctx = load_context(args.context)
    status, payload = _request(ctx, "DELETE", f"/api/sinks/{args.name}")
    _fail_on_error(status, payload)
    print(f"Sink {payload.get('id', args.name)!r} deleted.", file=out)
    return 0


def cmd_backfills_list(args, out) -> int:
    ctx = load_context(args.context)
    status, payload = _request(
        ctx, "GET", f"/api/sinks/{args.sink}/backfills")
    _fail_on_error(status, payload)
    if args.json:
        _print(out, payload["data"])
        return 0
    for j in payload.get("data", []):
        print(f"{j.get('id', '?'):<36} {j.get('state', '?'):<10} "
              f"{j.get('table', '')}", file=out)
    return 0


def cmd_backfills_create(args, out) -> int:
    ctx = load_context(args.context)
    body = {"table": args.table}
    status, payload = _request(
        ctx, "POST", f"/api/sinks/{args.sink}/backfills", body)
    _fail_on_error(status, payload)
    _print(out, payload)
    return 0


def cmd_backfills_show(args, out) -> int:
    ctx = load_context(args.context)
    status, payload = _request(
        ctx, "GET", f"/api/sinks/{args.sink}/backfills/{args.id}")
    _fail_on_error(status, payload)
    _print(out, payload)
    return 0


def _backfill_transition(args, out, state: str) -> int:
    ctx = load_context(args.context)
    status, payload = _request(
        ctx, "PATCH", f"/api/sinks/{args.sink}/backfills/{args.id}",
        {"state": state})
    _fail_on_error(status, payload)
    print(f"Backfill {args.id} → {payload.get('state', state)}", file=out)
    return 0


def cmd_backfills_pause(args, out) -> int:
    return _backfill_transition(args, out, "paused")


def cmd_backfills_resume(args, out) -> int:
    return _backfill_transition(args, out, "active")


def cmd_backfills_cancel(args, out) -> int:
    return _backfill_transition(args, out, "cancelled")


def cmd_tokens_create(args, out) -> int:
    """`sequin tokens create <name>` — account API token CRUD over
    /api/tokens (api_tokens/api_token.ex parity); the secret prints
    exactly once, here."""
    ctx = load_context(args.context)
    body = {"name": args.name}
    if args.account:
        body["account_id"] = args.account
    status, payload = _request(ctx, "POST", "/api/tokens", body)
    _fail_on_error(status, payload)
    _print(out, payload)
    return 0


def cmd_tokens_list(args, out) -> int:
    ctx = load_context(args.context)
    status, payload = _request(ctx, "GET", "/api/tokens")
    _fail_on_error(status, payload)
    if args.json:
        _print(out, payload["data"])
        return 0
    for t in payload.get("data", []):
        print(f"{t.get('id', '?'):<36} {t.get('name', '')}", file=out)
    return 0


def cmd_tokens_revoke(args, out) -> int:
    ctx = load_context(args.context)
    status, payload = _request(ctx, "DELETE", f"/api/tokens/{args.id}")
    _fail_on_error(status, payload)
    _print(out, payload)
    return 0


def cmd_tunnel(args, out) -> int:
    """``sequin tunnel --ports local:nameOrId[,...]`` — reverse tunnels
    to the server's tunnel endpoint (tunnel_command.go:37-117; transport
    is sequin_spark.streaming.tunnel, a length-prefixed multiplexed
    stream rather than chisel-over-SSH, which needs no external deps)."""
    from sequin_spark.streaming.tunnel import TunnelClient

    ctx = load_context(args.context)
    if args.ports:
        mappings = _parse_tunnel_ports(args.ports)
    elif ctx.get("tunnelPorts"):
        mappings = ctx["tunnelPorts"]
    else:
        raise CliError(
            "no ports specified and no tunnel ports found in context")
    clients = []
    print("Establishing tunnels:", file=out)
    for m in mappings:
        client = TunnelClient(
            server_host=(ctx.get("hostname") or "").split(":")[0],
            server_port=args.tunnel_port,
            entity=m["nameOrId"],
            local_port=int(m["port"]),
            api_token=ctx.get("api_token") or "",
        )
        client.start()
        clients.append(client)
        print(f"\t\tLocal port {m['port']} connected to entity "
              f"{m['nameOrId']}", file=out)
    print("Press Ctrl+C to stop tunnels.", file=out)
    if args.wait:
        try:
            for c in clients:
                c.wait()
        except KeyboardInterrupt:
            print("\nInterrupt received, shutting down...", file=out)
    for c in clients:
        c.stop()
    return 0


def cmd_messages_receive(args, out) -> int:
    """Pull-consumer receive (the legacy `sequin consumer receive`
    surface over the sequin_streams routes, router.ex:180-189)."""
    ctx = load_context(args.context)
    body: dict = {"max_batch_size": args.batch_size}
    if args.wait_for:
        body["wait_for"] = args.wait_for
    status, payload = _request(
        ctx, "POST", f"/api/sequin_streams/{args.sink}/receive", body)
    _fail_on_error(status, payload)
    _print(out, payload["data"])
    return 0


def _messages_ack(args, out, action: str) -> int:
    ctx = load_context(args.context)
    status, payload = _request(
        ctx, "POST", f"/api/sequin_streams/{args.sink}/{action}",
        {"ack_ids": args.ack_ids})
    _fail_on_error(status, payload)
    print(f"{action}ed {len(args.ack_ids)} message(s)", file=out)
    return 0


def cmd_messages_ack(args, out) -> int:
    return _messages_ack(args, out, "ack")


def cmd_messages_nack(args, out) -> int:
    return _messages_ack(args, out, "nack")


def cmd_messages_peek(args, out) -> int:
    """Browse a sink's messages (the console message tab / legacy
    `sequin consumer peek`)."""
    ctx = load_context(args.context)
    qs = [f"limit={args.limit}"]
    if args.state:
        qs.append(f"state={urllib.parse.quote(args.state)}")
    status, payload = _request(
        ctx, "GET", f"/api/sinks/{args.sink}/messages?{'&'.join(qs)}")
    _fail_on_error(status, payload)
    if args.json:
        _print(out, payload["data"])
        return 0
    for m in payload.get("data", []):
        print(f"{str(m.get('seq', '')):<12} {m.get('state', ''):<18} "
              f"{m.get('id', '')}", file=out)
    print(f"total: {payload.get('total_count', 0)}", file=out)
    return 0


def cmd_functions_test(args, out) -> int:
    """``sequin functions test`` — run a function against sample
    messages via POST /api/functions/test (the console function-editor
    test panel over the wire)."""
    ctx = load_context(args.context)
    if args.code_file:
        with open(args.code_file) as f:
            code = f.read()
    elif args.code:
        code = args.code
    else:
        raise CliError("provide --code or --code-file")
    body = {"type": args.type, "code": code}
    if args.message:
        msgs = []
        for path in args.message:
            with open(path) as f:
                msgs.append(json.load(f))
        body["messages"] = msgs
    status, payload = _request(ctx, "POST", "/api/functions/test", body)
    _fail_on_error(status, payload)
    _print(out, payload["results"])
    return 0


INDEX_KINDS = ("dedup", "semdedup", "pq", "ivfpq")


def cmd_index_build(args, out) -> int:
    """``sequin index build`` — fit and persist a maintained datapipe
    index (the build-once / search-many lifecycle; see docs/SCALE.md).
    Runs a local SparkSession; at cluster scale the same call runs in a
    spark-submit job."""
    from sequin_spark.session import get_spark

    spark = get_spark("sequin-index")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(args.corpus)
    # per-kind id default: text indexes key on doc_id, vector ones on vec_id
    if args.id_col is None:
        args.id_col = "doc_id" if args.kind == "dedup" else "vec_id"
    need = ([args.id_col, args.text_col] if args.kind == "dedup"
            else [args.id_col, args.vec_col])
    missing = [c for c in need if c not in df.columns]
    if missing:
        raise CliError(
            f"column(s) {missing} not in {args.corpus} "
            f"(has: {df.columns}); use --id-col/--text-col/--vec-col")
    if args.kind == "dedup":
        from sequin_spark.datapipe.dedup import build_dedup_index

        build_dedup_index(
            df.select(args.id_col, args.text_col),
            id_col=args.id_col, text_col=args.text_col,
        ).save(args.dest)
    elif args.kind == "semdedup":
        from sequin_spark.datapipe.similarity import build_semdedup_index

        build_semdedup_index(
            df, k=args.k, iters=args.iters, id_col=args.id_col,
            vec_col=args.vec_col,
            target_cluster_size=args.target_cluster_size,
        ).save(args.dest)
    elif args.kind == "pq":
        from sequin_spark.datapipe.similarity import build_pq_index

        build_pq_index(df, m=args.m, ksub=args.ksub, iters=args.iters,
                       dims=args.dims, id_col=args.id_col,
                       vec_col=args.vec_col).save(args.dest)
    elif args.kind == "ivfpq":
        from sequin_spark.datapipe.similarity import build_ivfpq_index

        build_ivfpq_index(df, n_centroids=args.k, m=args.m, ksub=args.ksub,
                          iters_coarse=args.iters, iters_pq=args.iters_pq,
                          dims=args.dims, id_col=args.id_col,
                          vec_col=args.vec_col).save(args.dest)
    print(f"Index ({args.kind}) written to {args.dest}", file=out)
    return 0


def cmd_index_info(args, out) -> int:
    """``sequin index info`` — summarize a persisted index dir without
    booting Spark (reads the meta.json sidecar + file layout)."""
    import glob as _glob

    meta_path = os.path.join(args.path, "meta.json")
    info = {"path": args.path, "complete": os.path.exists(meta_path)}
    if info["complete"]:
        try:
            with open(meta_path) as f:
                meta = json.load(f)
            if "books" in meta:
                info["subspaces"] = len(meta["books"])
                info["ksub"] = len(meta["books"][0]) if meta["books"] else 0
            if "centroids" in meta:
                info["centroids"] = len(meta["centroids"])
        except (OSError, ValueError) as e:
            info["error"] = str(e)
    parts = {}
    for sub in ("assignments", "codes", "corpus", "bands", "grams",
                "books", "centroids"):
        files = _glob.glob(os.path.join(args.path, sub, "**", "*.parquet"),
                           recursive=True)
        if files:
            parts[sub] = {"files": len(files),
                          "bytes": sum(os.path.getsize(f) for f in files)}
    info["parts"] = parts
    _print(out, info)
    return 0


def cmd_serve(args, out) -> int:
    """``sequin serve`` — boot the whole engine from a YAML config: a
    SparkSession, the management REST API, and a ConsumerSupervisor
    reconciling applied consumers into running streams (the Elixir
    release's `mix phx.server` + supervision tree, collapsed into one
    process; cli is the operator surface either way).

    ``--events DIR``: parquet directory of canonical events consumed as
    a file stream (the CDC log a replication worker writes; point a
    ReplicationIngestWorker at the same directory for live Postgres).
    Config changes applied over the REST API are picked up on the next
    reconcile tick.
    """
    import time as _time

    from sequin_spark.plans.config_api import ConfigApiServer, ConfigRegistry
    from sequin_spark.plans.spec import load_config
    from sequin_spark.schema import EVENT_SCHEMA
    from sequin_spark.session import get_spark
    from sequin_spark.streaming.supervisor import ConsumerSupervisor
    from sequin_spark.streaming.trace import Tracer

    spark = get_spark("sequin-serve")
    spark.sparkContext.setLogLevel("ERROR")
    if getattr(args, "rocksdb_state", False):
        from sequin_spark.session import enable_rocksdb_state

        enable_rocksdb_state(spark)
        print("State store: RocksDB (disk-backed keyed state)", file=out)
    registry = ConfigRegistry()
    if args.config:
        functions, specs = load_config(preprocess_yaml(args.config))
        result = registry.apply(specs, functions)
        if result.get("errors"):
            raise CliError(f"invalid config: {json.dumps(result['errors'])}")
        print(f"Applied {len(result.get('resources', []))} resources",
              file=out)

    tracer = Tracer()
    # the CDC log has a fixed schema: no inference job at boot, and a
    # fresh deploy boots on an empty log before the first WAL flush
    sup = ConsumerSupervisor(
        spark, registry,
        stream_factory=lambda: spark.readStream.schema(EVENT_SCHEMA)
        .parquet(args.events),
        state_root=args.state_dir,
        checkpoint_root=os.path.join(args.state_dir, "_checkpoints"),
        tracer=tracer,
    )
    server = ConfigApiServer(registry=registry, tracer=tracer,
                             port=args.port).start()
    print(f"Management API on http://127.0.0.1:{server.port}", file=out)
    try:
        actions = sup.reconcile()
        print(f"Consumers running: {sorted(sup.running)}", file=out)
        if args.once:
            sup.process_all_available()
            return 0
        deadline = (_time.monotonic() + args.max_seconds
                    if args.max_seconds else None)
        while deadline is None or _time.monotonic() < deadline:
            _time.sleep(args.reconcile_interval)
            actions = sup.reconcile()
            for verb in ("started", "stopped", "restarted"):
                for name in actions[verb]:
                    print(f"{verb}: {name}", file=out)
        return 0
    except KeyboardInterrupt:
        print("\nShutting down...", file=out)
        return 0
    finally:
        sup.shutdown()
        server.stop()


# ---------------------------------------------------------------------------
# parser wiring (cli/main.go command registration)
# ---------------------------------------------------------------------------

def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="sequin",
        description="Sequin-on-Spark CLI — see `sequin <group> -h`.",
    )
    p.add_argument("--context", help="Use a specific context")
    sub = p.add_subparsers(dest="group", required=True)

    # context
    ctx = sub.add_parser("context", help="Manage configuration contexts")
    ctx_sub = ctx.add_subparsers(dest="verb", required=True)
    add = ctx_sub.add_parser("add", help="Add or update a context")
    add.add_argument("name")
    add.add_argument("--hostname")
    add.add_argument("--api-token")
    add.add_argument("--portal-base-url")
    add.add_argument("--tls", action="store_true", default=None)
    add.add_argument("--no-tls", dest="tls", action="store_false")
    add.add_argument("--set-default", action="store_true")
    add.add_argument("--tunnel-ports")
    add.set_defaults(func=cmd_context_add)
    ls = ctx_sub.add_parser("ls", help="List all contexts")
    ls.set_defaults(func=cmd_context_ls)
    info = ctx_sub.add_parser("info", aliases=["show"],
                              help="Show a context")
    info.add_argument("name", nargs="?")
    info.set_defaults(func=cmd_context_info)
    rm = ctx_sub.add_parser("rm", help="Remove a context")
    rm.add_argument("name")
    rm.set_defaults(func=cmd_context_rm)
    sel = ctx_sub.add_parser("select", help="Select a default context")
    sel.add_argument("name")
    sel.set_defaults(func=cmd_context_select)

    # config
    cfg = sub.add_parser("config", help="Config-based operations")
    cfg_sub = cfg.add_subparsers(dest="verb", required=True)
    plan = cfg_sub.add_parser("plan", help="Show changes from YAML file")
    plan.add_argument("file", nargs="?", default="sequin.yaml")
    plan.set_defaults(func=cmd_config_plan)
    apply_ = cfg_sub.add_parser("apply", help="Apply changes from YAML")
    apply_.add_argument("file", nargs="?", default="sequin.yaml")
    apply_.add_argument("--auto-approve", action="store_true")
    apply_.set_defaults(func=cmd_config_apply)
    exp = cfg_sub.add_parser("export", help="Export configuration YAML")
    exp.add_argument("--show-sensitive", action="store_true")
    exp.set_defaults(func=cmd_config_export)
    interp = cfg_sub.add_parser(
        "interpolate", help="Output YAML with env vars interpolated")
    interp.add_argument("file", nargs="?", default="sequin.yaml")
    interp.add_argument("--output")
    interp.set_defaults(func=cmd_config_interpolate)

    # sinks
    sinks = sub.add_parser("sinks", help="Sink consumers")
    sinks_sub = sinks.add_subparsers(dest="verb", required=True)
    slist = sinks_sub.add_parser("list", aliases=["ls"])
    slist.add_argument("--json", action="store_true")
    slist.set_defaults(func=cmd_sinks_list)
    sshow = sinks_sub.add_parser("show")
    sshow.add_argument("name")
    sshow.set_defaults(func=cmd_sinks_show)
    sadd = sinks_sub.add_parser("add", help="Create a sink consumer")
    sadd.add_argument("--file", help="JSON/YAML spec file")
    sadd.add_argument("--set", action="append", metavar="KEY=VALUE",
                      help="Field override (repeatable; value JSON-parsed)")
    sadd.add_argument("--json", action="store_true")
    sadd.set_defaults(func=cmd_sinks_add)
    sedit = sinks_sub.add_parser("edit", help="Update a sink consumer")
    sedit.add_argument("name")
    sedit.add_argument("--file", help="JSON/YAML patch file")
    sedit.add_argument("--set", action="append", metavar="KEY=VALUE",
                       help="Field override (repeatable; value JSON-parsed)")
    sedit.add_argument("--json", action="store_true")
    sedit.set_defaults(func=cmd_sinks_edit)
    srm = sinks_sub.add_parser("rm", aliases=["delete"])
    srm.add_argument("name")
    srm.set_defaults(func=cmd_sinks_rm)

    # maintained datapipe indexes
    idx = sub.add_parser("index", help="Build / inspect maintained indexes")
    idx_sub = idx.add_subparsers(dest="verb", required=True)
    ib = idx_sub.add_parser("build", help="Fit and persist an index")
    ib.add_argument("--kind", required=True, choices=INDEX_KINDS)
    ib.add_argument("--corpus", required=True, help="Input parquet path")
    ib.add_argument("--dest", required=True, help="Index output dir")
    ib.add_argument("--id-col", dest="id_col", default=None,
                    help="default: doc_id (dedup) / vec_id (vector kinds)")
    ib.add_argument("--vec-col", dest="vec_col", default="embedding")
    ib.add_argument("--text-col", dest="text_col", default="text")
    ib.add_argument("--k", type=int, default=8,
                    help="centroids (semdedup/ivfpq coarse)")
    ib.add_argument("--target-cluster-size", dest="target_cluster_size",
                    type=int, default=None, help="auto-k (semdedup)")
    ib.add_argument("--iters", type=int, default=1,
                    help="k-means iterations (semdedup/pq/ivfpq coarse)")
    ib.add_argument("--iters-pq", dest="iters_pq", type=int, default=2,
                    help="PQ codebook iterations (ivfpq)")
    ib.add_argument("--m", type=int, default=16, help="PQ subspaces")
    ib.add_argument("--ksub", type=int, default=16, help="PQ codebook size")
    ib.add_argument("--dims", type=int, default=64)
    ib.set_defaults(func=cmd_index_build)
    ii = idx_sub.add_parser("info", help="Summarize a persisted index")
    ii.add_argument("path")
    ii.set_defaults(func=cmd_index_info)

    # messages (pull consume + browse)
    msgs = sub.add_parser("messages", help="Consume / browse messages")
    msgs_sub = msgs.add_subparsers(dest="verb", required=True)
    recv = msgs_sub.add_parser("receive", help="Lease messages")
    recv.add_argument("--sink", required=True)
    recv.add_argument("--batch-size", type=int, default=1)
    recv.add_argument("--wait-for", help="long-poll, e.g. 5s / 1000ms")
    recv.set_defaults(func=cmd_messages_receive)
    for verb, fn in (("ack", cmd_messages_ack), ("nack", cmd_messages_nack)):
        p_ = msgs_sub.add_parser(verb)
        p_.add_argument("--sink", required=True)
        p_.add_argument("ack_ids", nargs="+")
        p_.set_defaults(func=fn)
    peek = msgs_sub.add_parser("peek", help="Browse messages")
    peek.add_argument("--sink", required=True)
    peek.add_argument("--limit", type=int, default=50)
    peek.add_argument("--state")
    peek.add_argument("--json", action="store_true")
    peek.set_defaults(func=cmd_messages_peek)

    # functions
    fns = sub.add_parser("functions", help="Functions")
    fns_sub = fns.add_subparsers(dest="verb", required=True)
    ftest = fns_sub.add_parser(
        "test", help="Run a function against sample messages")
    ftest.add_argument("--type", default="transform",
                       choices=["transform", "filter", "routing"])
    ftest.add_argument("--code")
    ftest.add_argument("--code-file")
    ftest.add_argument("--message", action="append",
                       help="JSON message file (repeatable); defaults "
                            "to a synthetic message")
    ftest.set_defaults(func=cmd_functions_test)

    # backfills
    bf = sub.add_parser("backfills", help="Backfill jobs")
    bf_sub = bf.add_subparsers(dest="verb", required=True)
    blist = bf_sub.add_parser("list", aliases=["ls"])
    blist.add_argument("--sink", required=True)
    blist.add_argument("--json", action="store_true")
    blist.set_defaults(func=cmd_backfills_list)
    bcreate = bf_sub.add_parser("create")
    bcreate.add_argument("--sink", required=True)
    bcreate.add_argument("--table", required=True,
                         help="schema.table to backfill")
    bcreate.set_defaults(func=cmd_backfills_create)
    bshow = bf_sub.add_parser("show")
    bshow.add_argument("--sink", required=True)
    bshow.add_argument("id")
    bshow.set_defaults(func=cmd_backfills_show)
    for verb, fn in (("pause", cmd_backfills_pause),
                     ("resume", cmd_backfills_resume),
                     ("cancel", cmd_backfills_cancel)):
        bp = bf_sub.add_parser(verb)
        bp.add_argument("--sink", required=True)
        bp.add_argument("id")
        bp.set_defaults(func=fn)

    # tokens (account API token resource, api_tokens/api_token.ex)
    tk = sub.add_parser("tokens", help="Manage account API tokens")
    tk_sub = tk.add_subparsers(dest="verb", required=True)
    tcreate = tk_sub.add_parser("create")
    tcreate.add_argument("name")
    tcreate.add_argument("--account", help="account id (admin api-key "
                         "auth only; tokens are always scoped to the "
                         "authenticating token's own account)")
    tcreate.set_defaults(func=cmd_tokens_create)
    tlist = tk_sub.add_parser("list", aliases=["ls"])
    tlist.add_argument("--json", action="store_true")
    tlist.set_defaults(func=cmd_tokens_list)
    trevoke = tk_sub.add_parser("revoke", aliases=["rm"])
    trevoke.add_argument("id")
    trevoke.set_defaults(func=cmd_tokens_revoke)

    # serve
    serve = sub.add_parser(
        "serve", help="Run the engine: REST API + supervised streams")
    serve.add_argument("--config", help="sequin.yaml to apply at boot")
    serve.add_argument("--events", required=True,
                       help="parquet directory of canonical events (CDC log)")
    serve.add_argument("--state-dir", default="/tmp/sequin_spark_serve")
    serve.add_argument("--port", type=int, default=0)
    serve.add_argument("--once", action="store_true",
                       help="reconcile, drain available input, exit")
    serve.add_argument("--max-seconds", type=float, default=None)
    serve.add_argument("--reconcile-interval", type=float, default=2.0)
    serve.add_argument("--rocksdb-state", action="store_true",
                       help="disk-backed RocksDB state store for "
                            "stateful streams (large keyed state)")
    serve.set_defaults(func=cmd_serve)

    # tunnel
    tun = sub.add_parser("tunnel", help="Create tunnels to the server")
    tun.add_argument("--ports",
                     help="local-port:name-or-id[,local-port:name-or-id]")
    tun.add_argument("--tunnel-port", type=int, default=7722,
                     help="server-side tunnel listener port")
    tun.add_argument("--wait", action="store_true", default=True)
    tun.add_argument("--no-wait", dest="wait", action="store_false")
    tun.set_defaults(func=cmd_tunnel)

    return p


def main(argv: list[str] | None = None, out=None) -> int:
    out = out or sys.stdout
    parser = build_parser()
    args = parser.parse_args(argv)
    try:
        return args.func(args, out)
    except CliError as e:
        print(f"Error: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    raise SystemExit(main())
