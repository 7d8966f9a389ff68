"""Load generator for graft's live loop: the signup feed and a fake Zulip.

One asyncio event loop on one thread serves both, so the generator never
needs more threads or sockets of its own than the system under test opens
to it. Everything it sends comes from `make_plan(workload, seed, seconds)`:
the same seed gives the same rules, signups, matched set, wave and command
schedule.

Endpoints
  GET  /feed                chunked NDJSON signups (one long-lived connection)
  POST /api/v1/register     Zulip event-queue registration
  GET  /api/v1/events       Zulip long-poll: held until a command is due or a
                            heartbeat is owed
  POST /api/v1/messages     Zulip message post (actions, command replies)
  POST /ctl/close_feed      end the current feed connection (before a stop)
  POST /ctl/start           start the measured schedule
  POST /ctl/await_end       return once every expected post has arrived or
                            the drain timeout passed; closes the feed first

All stamps use this process's monotonic clock: a signup's latency runs from
its scheduled send time to the arrival of its action post.
"""
import asyncio
import hashlib
import json
import random
import re
import time
import urllib.parse

NOW_US = 1717200000 * 1_000_000          # Rules.nowUs: 2024-06-01T00:00Z
DAY_US = 86400 * 1_000_000
FAR_US = NOW_US + 3650 * DAY_US
DELAYED_ACTIONS = {"engine", "boost", "ipban", "close"}
MIN_HOLD_S = 30.0                        # ActionSink.actionDelayUs lower bound
HEARTBEAT_S = 20.0
WARMUP_S = 5.0                           # untimed traffic before the timed window
WAVE_PER_S = 500                         # wave size per second of --seconds
# live_steady's load is a synthetic stress setting, heavier than the bot's
# ordinary traffic; the timed window lasts only --seconds (10 s), so:
STEADY_RATE = 40.0       # signups/s: 2x the 20/s of an earlier probe, still far
                         # below its ~200/s saturation point
STEADY_HIT_SHARE = 0.30  # immediate matches: 40/s x 0.30 x 10 s = 120 timed
                         # actions, so >= 10 lie beyond latency_p90_ms (the
                         # probe's 10% would give 40)
CMD_GAP_S = 0.75         # mean gap between commands: ~13.5 per window (about
                         # 3 rule-store writes and 2 `seen`), so the reply
                         # p50/p90 rest on ten-odd samples and most runs put
                         # writes beside the per-batch rule reload
DRAIN_S = 40.0                           # wait for the tail after the last send
GRACE_S = 0.5                            # listen for duplicates before closing

WAVE_IP = "203.0.113.77"


def md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def rule(name, kind, pattern="", num_arg=0, actions="notify", enabled=True,
         susp_only=False, no_delay=False, expiry_us=FAR_US):
    return {"name": name, "kind": kind, "pattern": pattern, "num_arg": num_arg,
            "enabled": enabled, "susp_only": susp_only, "no_delay": no_delay,
            "expiry_us": expiry_us, "actions": actions}


def base_rules():
    """31 rules: every criterion kind, immediate and delayed actions, gates
    (disabled, susp-only, no-expiry) and one SQL criterion. Rules named
    `hit_*` match generated signups; `miss_*` match none."""
    rules = [
        rule("hit_user_contains", "username_contains", "spamr"),
        rule("hit_user_regex", "username_regex", "^bot[0-9]+x$", actions="shadowban"),
        rule("hit_email_contains", "email_contains", "@SPAMMAIL."),
        rule("hit_email_regex", "email_regex", "^throwaway[0-9]+@", actions="alt"),
        rule("hit_ip", "ip_match", WAVE_IP, actions="notify+shadowban"),
        rule("hit_print", "print_match", md5("fp-farm"), expiry_us=None),
        rule("hit_ua_len", "ua_len_lte", "", num_arg=8),
        rule("hit_engine_nodelay", "username_contains", "cheatr", actions="engine",
             no_delay=True),
        rule("hit_susp", "username_contains", "greyx", susp_only=True),
        rule("hit_delayed_close", "username_contains", "slowspam", actions="close"),
    ]
    kinds = [("username_contains", "zqv{}q"), ("username_regex", "^zq{}v[0-9]$"),
             ("email_contains", "@zq{}v.invalid"), ("email_regex", "^zqv{}@"),
             ("ip_match", "198.51.100.{}"), ("print_match", "nofp{}"),
             ("ua_len_lte", "")]
    for i in range(20):
        kind, pat = kinds[i % len(kinds)]
        rules.append(rule(f"miss_{i:02d}", kind,
                          md5(pat.format(i)) if kind == "print_match" else pat.format(i),
                          num_arg=(i % 3) if kind == "ua_len_lte" else 0,
                          actions=["notify", "engine", "close", "alt"][i % 4],
                          enabled=(i % 5 != 4), susp_only=(i % 6 == 5),
                          expiry_us=None if i % 4 == 0 else FAR_US))
    rules.append(rule("miss_sql", "sql", "length(username) > 400"))
    return rules


def matches(r, s):
    """RuleEngine.matches for one (rule, signup): gate, then criterion."""
    if not r["enabled"]:
        return False
    if r["expiry_us"] is not None and r["expiry_us"] <= NOW_US:
        return False
    if r["susp_only"] and not s.get("suspIp", False):
        return False
    k, p = r["kind"], r["pattern"]
    if k == "ip_match":
        return s.get("ip") == p
    if k == "print_match":
        return s.get("fingerPrint") == p
    if k == "email_contains":
        return p.upper() in (s.get("email") or "").upper()
    if k == "email_regex":
        return re.search(p, s.get("email") or "", re.I) is not None
    if k == "username_contains":
        return p.upper() in s["username"].upper()
    if k == "username_regex":
        return re.search(p, s["username"], re.I) is not None
    if k == "ua_len_lte":
        return s.get("userAgent") is not None and len(s["userAgent"]) <= r["num_arg"]
    return False


def immediate(r):
    return r["no_delay"] or r["actions"] not in DELAYED_ACTIONS


UA = "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko)"


def signup(rng, i, hit):
    """One signup; `hit` picks which hit_* rule it is built to match."""
    tag = "".join(rng.choice("abcdefghjkmnpstuw") for _ in range(6))
    user = f"{tag}{i}"
    s = {"t": "signup", "username": user, "email": f"{user}@mail{i % 7}.example",
         "ip": f"10.{(i >> 16) & 255}.{(i >> 8) & 255}.{i & 255}", "userAgent": UA,
         "fingerPrint": md5(f"fp{i}"), "suspIp": rng.random() < 0.1}
    if hit == "hit_user_contains":
        s["username"] = f"{tag}spamr{i}"
    elif hit == "hit_user_regex":
        s["username"] = f"bot{i}x"
    elif hit == "hit_email_contains":
        s["email"] = f"{user}@spammail.example"
    elif hit == "hit_email_regex":
        s["email"] = f"throwaway{i}@mail.example"
    elif hit == "hit_ip":
        s["ip"] = WAVE_IP
    elif hit == "hit_print":
        s["fingerPrint"] = md5("fp-farm")
    elif hit == "hit_ua_len":
        s["userAgent"] = "curl/8"
    elif hit == "hit_engine_nodelay":
        s["username"] = f"{tag}cheatr{i}"
    elif hit == "hit_susp":
        s["username"], s["suspIp"] = f"{tag}greyx{i}", True
    elif hit == "hit_delayed_close":
        s["username"] = f"{tag}slowspam{i}"
    elif hit == "near_susp":
        s["username"], s["suspIp"] = f"{tag}greyx{i}", False
    return s


IMMEDIATE_HITS = ["hit_user_contains", "hit_user_regex", "hit_email_contains",
                  "hit_email_regex", "hit_ip", "hit_print", "hit_ua_len",
                  "hit_engine_nodelay", "hit_susp"]


def make_plan(workload, seed, seconds):
    """The whole run's inputs, as data. Send times are offsets in seconds from
    the start of the measured phase; signups sent at or after `timed_from`
    are the timed ones. Every phase opens with WARMUP_S of untimed traffic so
    that the timed window does not catch the JIT and the first batches."""
    rng = random.Random(f"{workload}:{seed}")
    rules = base_rules()
    sends = []                                   # (offset_s, signup)
    if workload == "live_steady":
        for i in range(int((WARMUP_S + seconds) * STEADY_RATE)):
            u = rng.random()
            h = STEADY_HIT_SHARE
            hit = (rng.choice(IMMEDIATE_HITS) if u < h else
                   "hit_delayed_close" if u < h + 0.03 else
                   "near_susp" if u < h + 0.06 else None)
            sends.append((0.2 + i / STEADY_RATE, signup(rng, i, hit)))
        timed_from = 0.2 + WARMUP_S
        commands = make_commands(rng, rules, sends, timed_from, timed_from + seconds)
    else:
        rate = 5.0
        for i in range(int(WARMUP_S * rate)):
            hit = rng.choice(IMMEDIATE_HITS) if rng.random() < 0.10 else None
            sends.append((0.2 + i / rate, signup(rng, i, hit)))
        # four quiet seconds (longer than the background's batches take to
        # drain), then one lone signup starts a batch on an idle engine; the
        # wave lands while that batch runs, so the next batch takes all of it
        trigger_at = 0.2 + WARMUP_S + 4.0
        sends.append((trigger_at, signup(rng, len(sends), None)))
        timed_from, base = trigger_at + 0.25, len(sends)
        for j in range(WAVE_PER_S * seconds):
            hit = "hit_ip" if rng.random() < 0.85 else None
            sends.append((timed_from, signup(rng, base + j, hit)))
        commands = []
    return {"workload": workload, "seed": seed, "rules": rules, "sends": sends,
            "commands": commands, "timed_from": timed_from}


def expected_actions(rules, sends):
    """(username, rule) -> (signup offset, immediate?) for every match."""
    exp = {}
    for off, s in sends:
        for r in rules:
            if matches(r, s):
                exp[(s["username"], r["name"])] = (off, immediate(r))
    return exp


def make_commands(rng, rules, sends, start, end):
    """Open-loop moderator commands with their expected replies. Mutations
    touch only `cmd_*` rules, which match no generated signup, so the
    expected action set stays exact. Rules are tracked in schedule order,
    which is the order the bot handles them in."""
    state = {r["name"]: dict(r) for r in rules}
    cmds, t, n_added = [], start + 0.4, 0
    sent_users = [(off, s["username"]) for off, s in sends]
    while t < end:
        own = sorted(n for n in state if n.startswith("cmd_"))
        kinds = ["seen", "seen_ghost", "list", "show", "namechk", "test", "status", "add"]
        if own:
            kinds += ["remove", "disable", "enable", "renew"]
        kind = rng.choice(kinds)
        c = {"at": t, "kind": kind}
        if kind == "seen":
            old = [u for off, u in sent_users if off <= t - 8.0]
            if not old:
                kind = c["kind"] = "status"
            else:
                u = rng.choice(old)
                c["text"], c["expect"] = f"signup seen {u}", f"Seen: {u} (1 events)"
        if kind == "seen_ghost":
            u = f"ghost{rng.randrange(10**6)}"
            c["text"], c["expect"] = f"signup seen {u}", "Username not seen recently"
        elif kind == "status":
            c["text"], c["expect"] = "status", "I'm alive!"
        elif kind == "list":
            c["text"], c["expect"] = "signup rules list", ", ".join(sorted(state))
        elif kind == "show":
            name = rng.choice(sorted(state))
            c["text"], c["expect_rule"] = f"signup rules show {name}", dict(state[name])
        elif kind == "namechk":
            u = rng.choice(["bot77x", "zzspamrzz", "plainuser", "cheatrx", "quietone"])
            user = {"username": u, "email": "qwe@asd.zxc", "ip": "127.0.0.1",
                    "suspIp": False}
            hits = sorted(f"{r['name']} -> {r['actions']}"
                          for r in state.values() if matches(r, user))
            c["text"] = f"namechk {u}"
            c["expect_set"] = hits
            c["expect"] = None if hits else "No rule matches that username."
        elif kind == "test":
            expr, verdict = rng.choice([("length(username) >= 8", "true"),
                                        ("ip = '10.0.0.1'", "false")])
            c["text"], c["expect"] = f"signup rules test `{expr}`", f"Result: {verdict}"
        elif kind == "add":
            name, n_added = f"cmd_{n_added:03d}", n_added + 1
            state[name] = rule(name, "username_contains", f"qzx{name}",
                               expiry_us=NOW_US + 182 * DAY_US)
            c["text"] = f"signup rules add {name} if username contains qzx{name} then notify"
            c["expect"] = f"Rule {name} added."
        elif kind in ("remove", "disable", "enable", "renew"):
            name = rng.choice(own)
            if kind == "remove":
                del state[name]
                c["text"], c["expect"] = f"signup rules remove {name}", f"Rule {name} removed."
            elif kind == "renew":
                state[name]["expiry_us"] = NOW_US + 14 * DAY_US
                c["text"], c["expect"] = f"signup rules renew {name} 14d", f"Rule {name} renewed."
            else:
                state[name]["enabled"] = kind == "enable"
                c["text"] = f"signup rules {kind}-re ^{name}$"
                c["expect"] = f"Rules {kind}d."
        c["group"] = ("seen" if kind.startswith("seen") else
                      "mutate" if kind in ("add", "remove", "disable", "enable", "renew")
                      else "read")
        cmds.append(c)
        t += rng.expovariate(1.0 / CMD_GAP_S)
    return cmds


def check_reply(c, text):
    if c.get("expect_rule") is not None:
        try:
            got = json.loads(text)
        except ValueError:
            return False
        want = c["expect_rule"]
        return all(got.get(k) == want[k] for k in
                   ("name", "kind", "pattern", "enabled", "actions", "expiry_us"))
    if c.get("expect") is None:
        return sorted(text.split("; ")) == c["expect_set"]
    return text == c["expect"]


class LiveGen:
    """Serves one plan. Construct, `await start()`, then the system drives
    the phases through the /ctl endpoints."""

    def __init__(self, plan):
        self.plan = plan
        self.t0 = None                       # monotonic start of the measured phase
        self.epoch0 = None                   # wall clock at t0 (for Spark's stamps)
        self.sent = []                       # (username, scheduled, actual)
        self.posts = []                      # (recv monotonic, to, subject, content)
        self.got = set()                     # expected actions posted so far
        self.replies = 0
        self.poll_waits = []
        self.feed = None                     # (writer, closed event) of the live feed
        self.feed_connects = 0
        self.queue = 0
        self.event_id = 0
        self.next_cmd = 0
        self.wake = asyncio.Event()
        self.done = asyncio.Event()
        self.sender = None
        exp = expected_actions(plan["rules"], plan["sends"])
        self.expected = {k: v[0] for k, v in exp.items() if v[1]}
        self.delayed = {k: v[0] for k, v in exp.items() if not v[1]}

    def now(self):
        return time.monotonic()

    async def start(self):
        self.server = await asyncio.start_server(self.handle, "127.0.0.1", 0)
        self.port = self.server.sockets[0].getsockname()[1]

    async def stop(self):
        """Close the listener and end every open exchange."""
        asyncio.get_running_loop().set_exception_handler(
            lambda loop, ctx: None if isinstance(ctx.get("exception"), asyncio.CancelledError)
            else loop.default_exception_handler(ctx))
        self.server.close()
        tasks = [t for t in asyncio.all_tasks() if t is not asyncio.current_task()]
        for t in tasks:
            t.cancel()
        await asyncio.gather(*tasks, return_exceptions=True)

    # ---- HTTP/1.1 plumbing ------------------------------------------------

    async def handle(self, reader, writer):
        try:
            while True:
                line = await reader.readline()
                if not line:
                    return
                method, target, _ = line.decode().split(" ", 2)
                headers = {}
                while True:
                    h = await reader.readline()
                    if h in (b"\r\n", b"\n", b""):
                        break
                    k, v = h.decode().split(":", 1)
                    headers[k.strip().lower()] = v.strip()
                n = int(headers.get("content-length", "0"))
                body = (await reader.readexactly(n)).decode() if n else ""
                url = urllib.parse.urlsplit(target)
                if url.path == "/feed":
                    await self.serve_feed(writer)
                    return
                status, payload = await self.route(method, url, body)
                data = payload.encode()
                writer.write(f"HTTP/1.1 {status} OK\r\nContent-Type: application/json\r\n"
                             f"Content-Length: {len(data)}\r\n\r\n".encode() + data)
                await writer.drain()
                if headers.get("connection", "").lower() == "close":
                    return
        except (ConnectionError, asyncio.IncompleteReadError, ValueError):
            pass
        finally:
            writer.close()

    async def route(self, method, url, body):
        p = url.path
        if p == "/api/v1/register":
            self.queue += 1
            return 200, json.dumps({"result": "success", "queue_id": f"q{self.queue}"})
        if p == "/api/v1/events":
            q = urllib.parse.parse_qs(url.query).get("queue_id", [""])[0]
            return 200, await self.poll(q)
        if p == "/api/v1/messages":
            f = urllib.parse.parse_qs(body)
            g = lambda k: f.get(k, [""])[0]
            to, content = g("to"), g("content")
            self.posts.append((self.now(), to, g("subject"), content))
            key = self.parse_action(content)
            if to == "mod":
                self.replies += 1
            elif key in self.expected:
                self.got.add(key)
            self.check_done()
            return 200, json.dumps({"result": "success", "id": len(self.posts)})
        if p == "/ctl/close_feed":
            await self.close_feed()
            return 200, "{}"
        if p == "/ctl/start":
            self.t0, self.epoch0 = self.now() + 0.05, time.time() + 0.05
            self.sender = asyncio.ensure_future(self.send_all())
            self.wake.set()
            return 200, "{}"
        if p == "/ctl/await_end":
            try:
                await asyncio.wait_for(self.done.wait(), self.deadline() - self.now())
            except asyncio.TimeoutError:
                pass
            await asyncio.sleep(GRACE_S)
            await self.close_feed()
            return 200, "{}"
        return 404, "{}"

    # ---- feed -------------------------------------------------------------

    async def serve_feed(self, writer):
        self.feed_connects += 1
        closed = asyncio.Event()
        writer.write(b"HTTP/1.1 200 OK\r\nContent-Type: application/x-ndjson\r\n"
                     b"Transfer-Encoding: chunked\r\n\r\n")
        # a fresh connection opens with one signup that matches no rule, so
        # the system commits its first micro-batch as soon as it is up
        hello = {"t": "signup", "username": f"hello{self.feed_connects}",
                 "email": "hello@example.org", "ip": "192.0.2.1", "userAgent": UA}
        self.feed = (writer, closed)
        self.write_lines(writer, [hello])
        try:
            await writer.drain()
            await closed.wait()
            writer.write(b"0\r\n\r\n")
            await writer.drain()
        except ConnectionError:
            pass
        finally:
            if self.feed and self.feed[0] is writer:
                self.feed = None
            writer.close()

    @staticmethod
    def write_lines(writer, signups):
        data = "".join(json.dumps(s) + "\n" for s in signups).encode()
        writer.write(f"{len(data):x}\r\n".encode() + data + b"\r\n")

    async def close_feed(self):
        if self.feed:
            writer, closed = self.feed
            self.feed = None
            closed.set()
            await asyncio.sleep(0.05)

    async def send_all(self):
        sends = self.plan["sends"]
        i = 0
        while i < len(sends):
            at = self.t0 + sends[i][0]
            delay = at - self.now()
            if delay > 0:
                await asyncio.sleep(delay)
            j = i
            while j < len(sends) and sends[j][0] == sends[i][0]:
                j += 1
            feed = self.feed
            for k in range(i, j, 100):   # a wave goes out as fast as the socket takes it
                chunk = [s for _, s in sends[k:min(j, k + 100)]]
                if feed:
                    self.write_lines(feed[0], chunk)
                    await feed[0].drain()
                actual = self.now()
                self.sent.extend((s["username"], at, actual) for s in chunk)
            i = j
        self.check_done()

    # ---- fake Zulip -------------------------------------------------------

    async def poll(self, queue_id):
        t_in = self.now()
        cmds = self.plan["commands"]
        while True:
            live = self.t0 is not None and queue_id == f"q{self.queue}"
            due = []
            if live:
                while (self.next_cmd < len(cmds) and
                       self.t0 + cmds[self.next_cmd]["at"] <= self.now()):
                    due.append(self.next_cmd)
                    self.next_cmd += 1
            if due:
                events = []
                for ci in due:
                    self.event_id += 1
                    events.append({"id": self.event_id, "type": "message", "message": {
                        "content": "@**graftbot** " + cmds[ci]["text"],
                        "display_recipient": "mod", "subject": "commands"}})
                break
            wait = t_in + HEARTBEAT_S - self.now()
            if live and self.next_cmd < len(cmds):
                wait = min(wait, self.t0 + cmds[self.next_cmd]["at"] - self.now())
            if wait <= 0:
                self.event_id += 1
                events = [{"id": self.event_id, "type": "heartbeat"}]
                break
            self.wake.clear()
            try:
                await asyncio.wait_for(self.wake.wait(), wait)
            except asyncio.TimeoutError:
                pass
        self.poll_waits.append(self.now() - t_in)
        return json.dumps({"result": "success", "events": events})

    # ---- completion -------------------------------------------------------

    def deadline(self):
        last = max([s[0] for s in self.plan["sends"]] +
                   [c["at"] for c in self.plan["commands"]] + [0.0])
        return self.t0 + last + DRAIN_S

    def check_done(self):
        """Kept O(1) per post: the fake must not slow down as posts pile up."""
        if (self.t0 is not None and len(self.sent) == len(self.plan["sends"]) and
                len(self.got) == len(self.expected) and
                self.replies >= len(self.plan["commands"])):
            self.done.set()

    ACTION = re.compile(r"^action (\S+) on (\S+) \(rule (\S+)\)$")

    @classmethod
    def parse_action(cls, content):
        m = cls.ACTION.match(content)
        return (m.group(2), m.group(3)) if m else None
