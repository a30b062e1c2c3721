"""Seeded inputs of the live workload: signup lines and the rule set.

Everything derives from the seed. A signup either matches exactly one rule
(by construction, from that rule's own pattern) or none: base usernames,
emails, IPs, fingerprints and user agents are drawn from alphabets and
ranges that no rule pattern can hit.
"""
import json
import os
import random
import re

# Rule kinds and their share of a rule set (all seven criterion kinds).
KIND_SHARES = [("ip_match", 0.20), ("print_match", 0.15), ("email_contains", 0.15),
               ("email_regex", 0.15), ("username_contains", 0.15),
               ("username_regex", 0.15), ("ua_len_lte", 0.05)]
BASE_CHARS = "abcdefghijklm0123456789"   # never x/y/z/q/r/t, never '+'


def _split(n_rules):
    """Rule counts per kind; every kind gets at least one rule."""
    counts = [max(1, int(n_rules * s)) for _, s in KIND_SHARES]
    i = 0
    while sum(counts) < n_rules:
        counts[i % len(counts)] += 1
        i += 1
    return [(k, c) for (k, _), c in zip(KIND_SHARES, counts)]


def make_rules(n_rules, seed):
    """The rule set: name, kind, pattern, num_arg. No expiry, action notify."""
    rnd = random.Random(f"rules-{seed}")
    rules = []
    i = 0
    for kind, count in _split(n_rules):
        for j in range(count):
            name = f"r{i:04d}"
            num_arg = 0
            if kind == "ip_match":
                pattern = f"10.{rnd.randrange(256)}.{rnd.randrange(256)}.{i % 250 + 1}"
            elif kind == "print_match":
                pattern = f"fp-rule-{i}-{rnd.randrange(1 << 30):08x}"
            elif kind == "email_contains":
                pattern = f"@x{i}y."
            elif kind == "email_regex":
                pattern = f"^[a-m0-9]+\\+t{i}t@"
            elif kind == "username_contains":
                pattern = f"x{i}y"
            elif kind == "username_regex":
                pattern = f"^r{i}_[a-m0-9]+$"
            else:  # ua_len_lte: thresholds 11, 12, ...; only the largest can match alone
                pattern, num_arg = "", 11 + j
            rules.append({"name": name, "kind": kind, "pattern": pattern, "num_arg": num_arg})
            i += 1
    # ua rules below the largest threshold always co-match it: not matchable alone
    ua = [r for r in rules if r["kind"] == "ua_len_lte"]
    top_ua = max(ua, key=lambda r: r["num_arg"])
    matchable = [r for r in rules if r["kind"] != "ua_len_lte" or r is top_ua]
    return rules, matchable


def write_rule_store(rules, path):
    """The rules store as RuleStore.save lays it out: a JSON-lines dataset."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.json"), "w") as f:
        for r in rules:
            f.write(json.dumps({"name": r["name"], "kind": r["kind"], "pattern": r["pattern"],
                                "num_arg": r["num_arg"], "enabled": True, "susp_only": False,
                                "no_delay": True, "actions": "notify"}) + "\n")
    open(os.path.join(path, "_SUCCESS"), "w").close()


class SignupStream:
    """Signup number i of one feed connection, with the rule it must match."""

    def __init__(self, seed, stream, matchable, p_match):
        self.rnd = random.Random(f"signups-{seed}-{stream}")
        self.matchable = matchable
        self.p_match = p_match
        self.stream = stream
        self.n = 0

    def _word(self, n):
        return "".join(self.rnd.choice(BASE_CHARS) for _ in range(n))

    def next(self):
        """Returns (json line, username, matched rule name or None)."""
        rnd = self.rnd
        i = self.n
        self.n += 1
        user = f"u{self.stream}n{i}{self._word(6)}"
        local, domain = self._word(8), self._word(6)
        email = f"{local}@{domain}.test"
        ip = f"172.{rnd.randrange(16, 32)}.{rnd.randrange(256)}.{rnd.randrange(1, 255)}"
        fp = "%016x" % rnd.getrandbits(64)
        ua = (f"Mozilla/5.0 (X11; Linux x86_64; rv:{rnd.randrange(90, 140)}.0) "
              f"Gecko/20100101 Firefox/{rnd.randrange(90, 140)}.0 build/{self._word(12)}")
        rule = None
        if rnd.random() < self.p_match:
            rule = rnd.choice(self.matchable)
            k, p = rule["kind"], rule["pattern"]
            idx = int(rule["name"][1:])
            if k == "ip_match":
                ip = p
            elif k == "print_match":
                fp = p
            elif k == "email_contains":
                email = f"{local}@x{idx}y.test"
            elif k == "email_regex":
                email = f"{local}+t{idx}t@{domain}.test"
            elif k == "username_contains":
                user = f"u{self.stream}n{i}x{idx}y{self._word(3)}"
            elif k == "username_regex":
                user = f"r{idx}_{self.stream}a{i}b{self._word(3)}"
            else:
                ua = ("Mozilla/5.0 bench " + "x" * 64)[:rule["num_arg"]]
        line = json.dumps({"t": "signup", "username": user, "email": email, "ip": ip,
                           "userAgent": ua, "fingerPrint": fp, "suspIp": False},
                          separators=(",", ":"))
        return line, user, (rule["name"] if rule else None)


def namechk_expect(username, rules):
    """What `namechk` must answer: the synthetic signup keeps only the
    username, so only username rules can match."""
    hits = []
    for r in rules:
        if r["kind"] == "username_contains" and r["pattern"].upper() in username.upper():
            hits.append(r["name"])
        elif r["kind"] == "username_regex" and re.search("(?i)" + r["pattern"], username):
            hits.append(r["name"])
    return hits
