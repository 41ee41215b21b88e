"""Account API token resource (plans/tokens_api.py — the reference's
lib/sequin/api_tokens/): hashed storage, unhashed lookup,
(account, name) uniqueness, account-scoped list/revoke, the bearer
gate accepting tokens, and the CLI e2e using a token it just created.
"""

import io
import json
import urllib.error
import urllib.request

import pytest

from sequin_spark.cli import main
from sequin_spark.plans.config_api import ConfigApiServer, ConfigRegistry
from sequin_spark.plans.tokens_api import ApiTokenRegistry, gen_token


def _req(url, method="GET", body=None, token=None):
    data = json.dumps(body).encode() if body is not None else None
    headers = {"Content-Type": "application/json"} if data else {}
    if token:
        headers["Authorization"] = f"Bearer {token}"
    req = urllib.request.Request(url, data=data, method=method,
                                 headers=headers)
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status, json.loads(resp.read() or b"{}")
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def test_registry_hashed_storage_and_lookup():
    reg = ApiTokenRegistry()
    t = reg.create_for_account("acct1", "ci")
    # url-safe base64 of 48 bytes, no padding (api_token.ex:43-47)
    assert len(t.token) == 64 and "=" not in t.token
    assert "+" not in t.token and "/" not in t.token
    # find by UNHASHED token (where_token hashes the probe)
    assert reg.find_by_token(t.token).id == t.id
    assert reg.find_by_token("wrong") is None
    assert reg.find_by_token(None) is None
    # external render omits the secret AND its hash (api_token.ex:15)
    ext = t.to_external()
    assert set(ext) == {"id", "name", "inserted_at"}


def test_registry_caller_supplied_token_and_unique_name():
    reg = ApiTokenRegistry()
    t = reg.create_for_account("a", "pinned", token="my-fixed-secret")
    assert reg.find_by_token("my-fixed-secret").id == t.id
    # (account_id, name) unique (api_tokens_account_id_name_index);
    # same name in ANOTHER account is fine
    with pytest.raises(ValueError, match="already exists"):
        reg.create_for_account("a", "pinned")
    reg.create_for_account("b", "pinned")


def test_registry_account_scoped_list_and_delete():
    reg = ApiTokenRegistry()
    ta = reg.create_for_account("a", "one")
    reg.create_for_account("a", "two")
    tb = reg.create_for_account("b", "one")
    assert [t.name for t in reg.list_tokens_for_account("a")] == \
        ["one", "two"]
    # cross-account delete is not-found (api_tokens.ex:56-63)
    assert not reg.delete_token_for_account("a", tb.id)
    assert reg.delete_token_for_account("a", ta.id)
    assert reg.find_by_token(ta.token) is None


def test_http_crud_and_account_scope():
    reg = ApiTokenRegistry()
    boot = reg.create_for_account("acct1", "bootstrap")
    other = reg.create_for_account("acct2", "other-acct")
    srv = ConfigApiServer(ConfigRegistry(), api_tokens=reg,
                          require_auth=True).start()
    base = f"http://127.0.0.1:{srv.port}/api/tokens"
    try:
        # unauthenticated → 401 (the :api gate accepts api tokens)
        assert _req(base)[0] == 401
        # create in the authenticating token's account; the secret is
        # rendered exactly once, in the create response
        code, made = _req(base, "POST", {"name": "ci"}, token=boot.token)
        assert code == 201 and made["account_id"] == "acct1"
        assert reg.find_by_token(made["token"]).name == "ci"
        # list is scoped to acct1: acct2's token is invisible
        code, idx = _req(base, token=boot.token)
        assert code == 200
        assert {t["name"] for t in idx["data"]} == {"bootstrap", "ci"}
        assert all("token" not in t for t in idx["data"])
        # the freshly created token authenticates (CLI bootstrap flow)
        assert _req(base, token=made["token"])[0] == 200
        # duplicate name in the same account → 422
        assert _req(base, "POST", {"name": "ci"},
                    token=boot.token)[0] == 422
        # revoking another account's token is not-found
        assert _req(f"{base}/{other.id}", "DELETE",
                    token=boot.token)[0] == 404
        code, res = _req(f"{base}/{made['id']}", "DELETE",
                         token=boot.token)
        assert (code, res) == (200, {"success": True})
        # revoked token no longer authenticates
        assert _req(base, token=made["token"])[0] == 401
    finally:
        srv.stop()


def test_cli_tokens_e2e(tmp_path, monkeypatch):
    """CLI parity: context with a bootstrap token → create / list /
    revoke over the wire; the CREATED token is then used as the
    context credential end-to-end (VERDICT r8 task #7's done bar)."""
    monkeypatch.setenv("SEQUIN_CONTEXT_DIR", str(tmp_path / "ctx"))

    def run_cli(*argv):
        out = io.StringIO()
        rc = main(list(argv), out=out)
        return rc, out.getvalue()

    reg = ApiTokenRegistry()
    boot = reg.create_for_account("acct1", "bootstrap")
    srv = ConfigApiServer(ConfigRegistry(), api_tokens=reg,
                          require_auth=True).start()
    try:
        rc, _ = run_cli("context", "add", "t", "--hostname",
                        f"127.0.0.1:{srv.port}", "--api-token", boot.token)
        assert rc == 0
        rc, out = run_cli("--context", "t", "tokens", "create", "ci-token")
        assert rc == 0
        made = json.loads(out)
        assert made["name"] == "ci-token" and made["token"]
        # re-point the context at the NEW token; it must authenticate
        rc, _ = run_cli("context", "add", "t2", "--hostname",
                        f"127.0.0.1:{srv.port}", "--api-token",
                        made["token"])
        assert rc == 0
        rc, out = run_cli("--context", "t2", "tokens", "list", "--json")
        assert rc == 0
        names = {t["name"] for t in json.loads(out)}
        assert names == {"bootstrap", "ci-token"}
        rc, _ = run_cli("--context", "t", "tokens", "revoke", made["id"])
        assert rc == 0
        rc, _ = run_cli("--context", "t2", "tokens", "list", "--json")
        assert rc != 0  # revoked credential now rejected
    finally:
        srv.stop()


def test_gen_token_shape():
    toks = {gen_token() for _ in range(50)}
    assert len(toks) == 50
    for t in toks:
        assert len(t) == 64 and "=" not in t


def test_gen_token_never_starts_with_dash(monkeypatch):
    """A draw whose first 6 bits are 62 (``-`` in url-safe base64) is
    redrawn: ``sequin context add --api-token <tok>`` would read such a
    token as an option."""
    import secrets

    draws = iter([b"\xf8" + b"\x00" * 47, b"\x04" * 48])
    monkeypatch.setattr(secrets, "token_bytes", lambda n: next(draws))
    tok = gen_token()
    assert not tok.startswith("-")
    assert tok == "BAQE" * 16


def test_create_rejects_cross_account_body(monkeypatch):
    """ADVICE r9 (high): POST /api/tokens must derive the account from
    the AUTHENTICATING token (api_key_controller.ex uses
    conn.assigns.account_id unconditionally) — a body account_id for a
    DIFFERENT account is a cross-account privilege escalation and gets
    403; only the admin api-key (single-tenant bootstrap) may mint for
    an explicit account."""
    from sequin_spark.plans.apikeys_api import ApiKeyRegistry

    reg = ApiTokenRegistry()
    boot = reg.create_for_account("acct1", "bootstrap")
    victim = reg.create_for_account("acct2", "victim")
    keys = ApiKeyRegistry()
    admin = keys.create("admin")
    srv = ConfigApiServer(ConfigRegistry(), api_tokens=reg,
                          api_keys=keys, require_auth=True).start()
    base = f"http://127.0.0.1:{srv.port}/api/tokens"
    try:
        # acct1's token CANNOT mint under acct2
        code, body = _req(base, "POST",
                          {"name": "stolen", "account_id": "acct2"},
                          token=boot.token)
        assert code == 403, body
        assert not any(t.name == "stolen" for t in reg.list_tokens_for_account("acct2"))
        # acct2 stays invisible/untouchable to acct1 (scoping intact)
        code, idx = _req(base, token=boot.token)
        assert {t["name"] for t in idx["data"]} == {"bootstrap"}
        assert _req(f"{base}/{victim.id}", "DELETE",
                    token=boot.token)[0] == 404
        # matching account_id is fine (no-op redundancy, not an error)
        code, made = _req(base, "POST",
                          {"name": "self", "account_id": "acct1"},
                          token=boot.token)
        assert code == 201 and made["account_id"] == "acct1"
        # the admin api-key may mint for an explicit account
        code, made = _req(base, "POST",
                          {"name": "provisioned", "account_id": "acct2"},
                          token=admin.token)
        assert code == 201 and made["account_id"] == "acct2"
        assert any(t.name == "provisioned" for t in reg.list_tokens_for_account("acct2"))
    finally:
        srv.stop()
