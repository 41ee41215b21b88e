"""Account-scoped API tokens — the reference's first-class token
resource (lib/sequin/api_tokens/api_token.ex + api_tokens.ex).

Parity points:

* token generation = 48 random bytes, url-safe base64 without padding
  (api_token.ex:43-47 — url-encode so a double-click selects the whole
  token in a terminal);
* storage = sha256 hash alongside the token (api_token.ex:12-13
  ``@rand_bytes 48 / @hash_algo :sha256``; the plaintext column is
  Encrypted.Binary in the reference — here it is held in-process only
  and rendered exactly once, in the create response);
* lookup by UNHASHED token hashes the probe and matches on the stored
  hash (ApiToken.where_token, api_token.ex:49-52);
* (account_id, name) is unique (api_token.ex:30
  ``api_tokens_account_id_name_index``);
* list / get / delete are account-scoped (api_tokens.ex:42-63
  list_tokens_for_account / get_token_by / delete_token_for_account);
* external JSON renders only id/name/inserted_at (api_token.ex:15
  ``@derive Jason.Encoder, only: [:id, :name, :inserted_at]``).

The registry also serves as a bearer-token verifier for the management
API's :api pipeline gate (plans/config_api.py accepts it alongside
ApiKeyRegistry), which is what lets the CLI use a token it just
created end-to-end.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import secrets
import threading
import time
import uuid
from dataclasses import dataclass, field

_RAND_BYTES = 48  # api_token.ex:12


def _hash(token: str) -> str:
    return hashlib.sha256(token.encode()).hexdigest()


def gen_token() -> str:
    """48 random bytes, url-safe base64, no padding (api_token.ex:43),
    redrawn while it starts with ``-`` (1 draw in 64), which a command
    line (``--api-token <tok>``) would read as an option."""
    while True:
        tok = base64.urlsafe_b64encode(
            secrets.token_bytes(_RAND_BYTES)).decode().rstrip("=")
        if not tok.startswith("-"):
            return tok


@dataclass
class ApiToken:
    account_id: str
    name: str
    token: str
    id: str = field(default_factory=lambda: str(uuid.uuid4()))
    inserted_at: float = field(default_factory=time.time)

    @property
    def hashed_token(self) -> str:
        return _hash(self.token)

    def to_external(self) -> dict:
        # only id/name/inserted_at leave the trust boundary
        # (api_token.ex:15) — NOT the token or its hash
        return {"id": self.id, "name": self.name,
                "inserted_at": self.inserted_at}

    def to_created(self) -> dict:
        """The one render that includes the secret: the create
        response (the console shows a fresh token exactly once)."""
        return {**self.to_external(), "token": self.token,
                "account_id": self.account_id}


class ApiTokenRegistry:
    """In-process analog of the api_tokens table + context functions."""

    def __init__(self):
        self._by_id: dict[str, ApiToken] = {}
        self._lock = threading.Lock()

    def create_for_account(self, account_id: str, name: str,
                           token: str | None = None) -> ApiToken:
        """ApiTokens.create_for_account: build (generating the secret
        unless the caller supplies one — api_tokens.ex:20-27 pops
        "token" from attrs), validate, insert; duplicate
        (account_id, name) raises (the unique-index parity)."""
        if not name or not isinstance(name, str):
            raise ValueError("name is required")
        if not account_id:
            raise ValueError("account_id is required")
        tok = ApiToken(account_id=account_id, name=name,
                       token=token or gen_token())
        with self._lock:
            for t in self._by_id.values():
                if t.account_id == account_id and t.name == name:
                    raise ValueError(
                        f"token name {name!r} already exists for account")
            self._by_id[tok.id] = tok
        return tok

    def find_by_token(self, token: str | None) -> ApiToken | None:
        """ApiTokens.find_by_token: hash the probe, constant-time match
        against stored hashes."""
        if not token:
            return None
        h = _hash(token)
        with self._lock:
            rows = list(self._by_id.values())
        for t in rows:
            if hmac.compare_digest(h, t.hashed_token):
                return t
        return None

    def verify(self, token: str | None) -> bool:
        """Bearer-gate predicate (the :api pipeline auth)."""
        return self.find_by_token(token) is not None

    def list_tokens_for_account(self, account_id: str) -> list[ApiToken]:
        with self._lock:
            rows = [t for t in self._by_id.values()
                    if t.account_id == account_id]
        return sorted(rows, key=lambda t: t.inserted_at)

    def get_token_by(self, token_id: str,
                     account_id: str | None = None) -> ApiToken | None:
        with self._lock:
            t = self._by_id.get(token_id)
        if t is None:
            return None
        if account_id is not None and t.account_id != account_id:
            return None
        return t

    def delete_token_for_account(self, account_id: str,
                                 token_id: str) -> bool:
        """Account-scoped revoke (api_tokens.ex:56-63): deleting
        another account's token is not-found, not forbidden."""
        with self._lock:
            t = self._by_id.get(token_id)
            if t is None or t.account_id != account_id:
                return False
            del self._by_id[token_id]
            return True
