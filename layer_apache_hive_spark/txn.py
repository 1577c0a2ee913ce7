"""Multi-statement SQL transactions at the served endpoint —
``BEGIN; <DML>...; COMMIT`` over JDBC/beeline, bound to
``acid.TransactionCatalog`` `[upstream: deployed Hive ACID
multi-statement transactions (Hive 3, ql/txn/* — BEGIN/COMMIT/
ROLLBACK at HiveServer2); public-knowledge reconstruction,
SURVEY.md §0. Round-7 verdict "what's missing" #1 / next-round #1]`.

r7 delivered atomic cross-table commits as a Python API
(``TransactionCatalog``). A real user at the served endpoint speaks
SQL, so this module binds the three statements to that catalog where
HiveServer2 binds them: at statement interpretation time, inside the
serving session.

Mechanics — all public Spark extension points, no internals patched:

* A **parser interceptor** (``sparkgraft.SparkGraftTxn``, compiled
  with javac at provision time like auth.py/authz.py) is injected
  through ``spark.sql.extensions``. Spark builds ONE parser instance
  per SessionState, and the Thrift server gives every JDBC connection
  its own session (``singleSession=false`` default), so the parser
  instance IS the connection identity: its UUID keys per-connection
  transaction state.
* The interceptor forwards ``BEGIN/START TRANSACTION``, and — while a
  transaction is open on that connection — every statement, to a
  Python **TxnSessionManager** over py4j's callback server (the same
  bridge Structured Streaming's foreachBatch rides). Everything else
  passes straight through to the delegate parser: the non-transaction
  hot path never crosses into Python.
* The manager buffers the transaction's DML (INSERT INTO / INSERT
  OVERWRITE / UPDATE / DELETE against catalog-enrolled tables) as
  DataFrame TRANSFORMS and, on COMMIT, hands them to
  ``TransactionCatalog.commit`` — so the transaction's reads all pin
  ONE catalog snapshot (snapshot isolation across tables), visibility
  is a single exclusive-create (all-or-nothing), and a lost race
  REBASES and re-applies the transforms (first-committer-wins at
  transaction granularity). ROLLBACK just drops the buffer; a
  connection that disconnects mid-transaction implicitly rolls back
  (its buffer is keyed by the dead parser's UUID and never commits).

Semantics (documented contract):

* Writes are evaluated against the catalog snapshot pinned at COMMIT
  time, composing in statement order per table — the optimistic
  analog of Hive's write-set validation. There is no read-your-own-
  writes inside an open transaction: SELECTs pass through to the
  committed catalog state (READ COMMITTED reads, snapshot-atomic
  writes), like Hive ACID's statement-level reads.
* DML on a table NOT enrolled in the transaction catalog is refused
  (keeping the atomicity promise honest), as is nested BEGIN.
* After COMMIT returns, the manager republishes every touched table's
  pinned version through the metastore (``publish_to_catalog``), so
  the wire sees the new state as soon as the COMMIT statement
  completes. Catalog-API readers (``TransactionCatalog.read``) see
  the flip atomically at the marker create itself; the served VIEW
  re-point is a metadata-only projection refreshed inside COMMIT.
* The buffered DML is interpreted BEFORE analysis and executes at
  COMMIT as the in-process service identity, so the compiled authz
  rule never sees it — the manager therefore enforces grants ITSELF
  (``_authorize_op``): under the wire identity captured at BEGIN,
  the target table and every table referenced by an INSERT body
  (analyzed-plan leaf walk, the rule's visit() in Python) require a
  FULL grant; column-scoped tokens, path reads, and unknown relation
  kinds are refused. View bodies inline to base relations here, so
  transactional reads resolve against base-table grants (no definer
  views inside transactions — conservative). Without this, a scoped
  user could launder reads of ungranted tables through
  ``BEGIN; INSERT ... SELECT * FROM secret; COMMIT``.

Scale: parsing/buffering is O(statement) driver-side work; COMMIT
costs exactly what the equivalent TransactionCatalog.commit costs
(one staged snapshot write per touched table + two exclusive
creates). The callback hop is microseconds against a multi-second
distributed write.
"""

from __future__ import annotations

import os
import re
import subprocess
import threading

import pyspark
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from layer_apache_hive_spark.acid import (
    CommitConflict,
    TransactionCatalog,
    publish_to_catalog,
)
from layer_apache_hive_spark.sources.hive_acid import HiveWriteIdLedger

TXN_CLASS = "sparkgraft.SparkGraftTxn"
DEFAULT_CLASSES_DIR = "/root/repo/.tmp/hs2_txn_classes"

_HANDLER_JAVA = """
package sparkgraft;

/**
 * Bridge interface the Python TxnSessionManager implements through
 * py4j's callback server. `user` is the SASL wire identity
 * (CurrentUserContext; empty for in-process statements) - the
 * GRANT/REVOKE surface gates admin on it. Return protocol (one
 * line, no newlines):
 *   "PASS"          - not an intercepted statement: delegate-parse it
 *   "SQL:<stmt>"    - handled as a REWRITE: delegate-parse <stmt>
 *                     instead (txn state unchanged) - how statements
 *                     Spark cannot parse (SHOW COMPACTIONS) resolve
 *                     to served relations
 *   "ACTIVE:<msg>"  - handled; transaction now OPEN on this session
 *   "DONE:<msg>"    - handled; transaction now CLOSED (commit/rollback
 *                     or a non-transactional GRANT/REVOKE/SHOW GRANTS)
 *   "ERR_ACTIVE:<m>"- refuse statement; transaction STAYS open
 *   "ERR_ENDED:<m>" - refuse statement; transaction is CLOSED
 */
public interface TxnHandler {
  String handle(String sessionId, String user, String sqlText);
}
"""

_TXN_JAVA = """
package sparkgraft;

import java.util.UUID;
import java.util.regex.Pattern;
import org.apache.spark.sql.catalyst.CurrentUserContext$;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.SparkSessionExtensions;
import org.apache.spark.sql.catalyst.FunctionIdentifier;
import org.apache.spark.sql.catalyst.TableIdentifier;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.parser.ParseException;
import org.apache.spark.sql.catalyst.parser.ParserInterface;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.StructType;
import scala.runtime.AbstractFunction1;
import scala.runtime.AbstractFunction2;
import scala.runtime.BoxedUnit;

/**
 * Parser interceptor binding BEGIN/COMMIT/ROLLBACK at the served
 * endpoint to the Python-side transaction manager. One parser
 * instance per SessionState = per JDBC connection (the Thrift server
 * default is one session per connection), so the instance UUID keys
 * per-connection transaction state; the in-process driver session
 * gets its own instance the same way.
 *
 * Only BEGIN-shaped statements and statements inside an OPEN
 * transaction cross the py4j bridge; everything else goes straight
 * to the delegate parser (zero overhead on the non-txn path, and no
 * behavior at all until a handler is registered).
 */
public class SparkGraftTxn
    extends AbstractFunction1<SparkSessionExtensions, BoxedUnit>
    implements org.apache.spark.sql.SparkSessionExtensionsProvider {

  private static volatile TxnHandler handler = null;

  /** Python side registers its TxnSessionManager proxy here. */
  public static void setHandler(TxnHandler h) { handler = h; }

  private static final Pattern BEGIN_LIKE = Pattern.compile(
      "(?is)^\\\\s*(BEGIN|START\\\\s+TRANSACTION|BEGIN\\\\s+TRANSACTION)\\\\s*;?\\\\s*$");

  // GRANT/REVOKE/SHOW GRANTS are served statements too (HS2 SQL-std
  // auth surface): intercepted even outside a transaction and routed
  // to the Python handler, which binds them to the live file-backed
  // ACL store with '*'-grant admin gating on the wire identity.
  private static final Pattern GRANT_LIKE = Pattern.compile(
      "(?is)^\\\\s*(GRANT|REVOKE|SHOW\\\\s+GRANTS)\\\\b.*");

  // hive-ACID served statements: bare DML (single-statement
  // auto-commit transactions against enrolled ACID layouts — INSERT
  // INTO/OVERWRITE, UPDATE, DELETE per HIVE-14035 split-update) and
  // ALTER TABLE ... COMPACT / SHOW LOCKS (statements vanilla Spark
  // cannot parse or serve). The Python handler PASSes any DML whose
  // target it does not govern, so INSERT INTO <ordinary table> still
  // reaches Spark's own writer; SELECTs never cross the bridge.
  private static final Pattern ACID_LIKE = Pattern.compile(
      "(?is)^\\\\s*(INSERT\\\\s+(?:INTO|OVERWRITE)\\\\b.*"
      + "|UPDATE\\\\s+\\\\S+\\\\s+SET\\\\b.*"
      + "|DELETE\\\\s+FROM\\\\b.*"
      + "|MERGE\\\\s+INTO\\\\b.*"
      + "|ALTER\\\\s+TABLE\\\\s+\\\\S+\\\\s+COMPACT\\\\b.*"
      + "|SHOW\\\\s+COMPACTIONS\\\\s*;?\\\\s*"
      + "|SHOW\\\\s+TRANSACTIONS\\\\s*;?\\\\s*"
      + "|SHOW\\\\s+LOCKS\\\\b[^;]*;?\\\\s*"
      + "|ABORT\\\\s+TRANSACTIONS\\\\b.*)$");

  @Override
  public BoxedUnit apply(SparkSessionExtensions ext) {
    ext.injectParser(
        new AbstractFunction2<SparkSession, ParserInterface, ParserInterface>() {
          @Override
          public ParserInterface apply(
              SparkSession session, ParserInterface delegate) {
            return new TxnParser(delegate);
          }
        });
    return BoxedUnit.UNIT;
  }

  static class TxnParser implements ParserInterface {
    private final ParserInterface delegate;
    private final String sessionId = UUID.randomUUID().toString();
    // mirror of the Python-side open/closed state, kept in sync by
    // the return protocol; exists only to keep non-txn statements
    // off the callback bridge
    private boolean active = false;

    TxnParser(ParserInterface delegate) { this.delegate = delegate; }

    @Override
    public LogicalPlan parsePlan(String sqlText) throws ParseException {
      TxnHandler h = handler;
      if (h == null
          || (!active
              && !BEGIN_LIKE.matcher(sqlText).matches()
              && !GRANT_LIKE.matcher(sqlText).matches()
              && !ACID_LIKE.matcher(sqlText).matches())) {
        return delegate.parsePlan(sqlText);
      }
      String out = h.handle(
          sessionId,
          CurrentUserContext$.MODULE$.getCurrentUserOrEmpty(),
          sqlText);
      if (out == null || out.equals("PASS")) {
        return delegate.parsePlan(sqlText);
      }
      if (out.startsWith("SQL:")) {
        return delegate.parsePlan(out.substring(4));
      }
      if (out.startsWith("ERR_ACTIVE:")) {
        active = true;
        throw new RuntimeException(
            "Transaction error: " + out.substring(11));
      }
      if (out.startsWith("ERR_ENDED:")) {
        active = false;
        throw new RuntimeException(
            "Transaction error: " + out.substring(10));
      }
      String msg = out;
      if (out.startsWith("ACTIVE:")) {
        active = true;
        msg = out.substring(7);
      } else if (out.startsWith("DONE:")) {
        active = false;
        msg = out.substring(5);
      }
      // surface the handler's status as a one-row result the JDBC
      // client renders ('' doubled: msg is sanitized Python-side too)
      return delegate.parsePlan(
          "SELECT '" + msg.replace("'", "''") + "' AS txn_status");
    }

    @Override
    public Expression parseExpression(String s) throws ParseException {
      return delegate.parseExpression(s);
    }

    @Override
    public TableIdentifier parseTableIdentifier(String s) throws ParseException {
      return delegate.parseTableIdentifier(s);
    }

    @Override
    public FunctionIdentifier parseFunctionIdentifier(String s) throws ParseException {
      return delegate.parseFunctionIdentifier(s);
    }

    @Override
    public scala.collection.immutable.Seq<String> parseMultipartIdentifier(
        String s) throws ParseException {
      return delegate.parseMultipartIdentifier(s);
    }

    @Override
    public LogicalPlan parseQuery(String s) throws ParseException {
      return delegate.parseQuery(s);
    }

    @Override
    public StructType parseRoutineParam(String s) throws ParseException {
      return delegate.parseRoutineParam(s);
    }

    @Override
    public StructType parseTableSchema(String s) throws ParseException {
      return delegate.parseTableSchema(s);
    }

    @Override
    public DataType parseDataType(String s) throws ParseException {
      return delegate.parseDataType(s);
    }
  }
}
"""


def _spark_jars_dir() -> str:
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def ensure_txn_classes(classes_dir: str = DEFAULT_CLASSES_DIR) -> str:
    """Compile the interceptor + bridge interface once (cached by
    source identity); return the dir for spark.driver.extraClassPath."""
    os.makedirs(classes_dir, exist_ok=True)
    source_blob = _HANDLER_JAVA + _TXN_JAVA
    marker = os.path.join(classes_dir, "_SOURCE")
    cls = os.path.join(classes_dir, "sparkgraft", "SparkGraftTxn.class")
    if os.path.exists(cls) and os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == source_blob:
                return classes_dir
    h_path = os.path.join(classes_dir, "TxnHandler.java")
    t_path = os.path.join(classes_dir, "SparkGraftTxn.java")
    with open(h_path, "w") as fh:
        fh.write(_HANDLER_JAVA)
    with open(t_path, "w") as fh:
        fh.write(_TXN_JAVA)
    subprocess.run(
        [
            "javac",
            "-cp",
            os.path.join(_spark_jars_dir(), "*"),
            "-d",
            classes_dir,
            h_path,
            t_path,
        ],
        check=True,
        capture_output=True,
        text=True,
    )
    with open(marker, "w") as fh:
        fh.write(source_blob)
    return classes_dir


def txn_session_conf(
    base_conf: dict[str, str] | None = None,
    classes_dir: str | None = None,
) -> dict[str, str]:
    """Extend ``base_conf`` with the transaction interceptor: merges
    ``spark.sql.extensions`` / ``spark.driver.extraClassPath`` so
    authn (auth.py), authz (authz.py) and transactions compose in one
    serving session."""
    d = ensure_txn_classes(classes_dir or DEFAULT_CLASSES_DIR)
    conf = dict(base_conf or {})
    cp = conf.get("spark.driver.extraClassPath")
    conf["spark.driver.extraClassPath"] = f"{cp}:{d}" if cp else d
    ext = conf.get("spark.sql.extensions")
    conf["spark.sql.extensions"] = f"{ext},{TXN_CLASS}" if ext else TXN_CLASS
    return conf


# --- statement grammar (the Hive ACID multi-statement txn surface) ---------

_BEGIN_RE = re.compile(
    r"(?is)^\s*(?:BEGIN|START\s+TRANSACTION|BEGIN\s+TRANSACTION)\s*;?\s*$"
)
_COMMIT_RE = re.compile(r"(?is)^\s*COMMIT(?:\s+WORK)?\s*;?\s*$")
_ROLLBACK_RE = re.compile(r"(?is)^\s*ROLLBACK(?:\s+WORK)?\s*;?\s*$")
_INSERT_RE = re.compile(
    r"(?is)^\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?:TABLE\s+)?"
    r"(?P<name>[\w.`]+)"
    r"(?:\s+PARTITION\s*\(\s*(?P<part>[^)]*?)\s*\))?"
    r"\s+(?P<body>.+?)\s*;?\s*$"
)
# one PARTITION spec entry: `col='v'` (static) or bare `col` (dynamic)
_PARTITION_SPEC_RE = re.compile(
    r"(?is)^\s*(?P<col>[\w`]+)\s*"
    r"(?:=\s*(?P<val>'[^']*'|\"[^\"]*\"|[^\s,()]+))?\s*$"
)
_DELETE_RE = re.compile(
    r"(?is)^\s*DELETE\s+FROM\s+(?P<name>[\w.`]+)"
    r"(?:\s+WHERE\s+(?P<pred>.+?))?\s*;?\s*$"
)
_UPDATE_RE = re.compile(
    r"(?is)^\s*UPDATE\s+(?P<name>[\w.`]+)\s+SET\s+(?P<sets>.+?)"
    r"(?:\s+WHERE\s+(?P<pred>.+?))?\s*;?\s*$"
)
_ALTER_COMPACT_RE = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(?P<name>[\w.`]+)"
    r"(?:\s+PARTITION\s*\(\s*(?P<part>[^)]*?)\s*\))?"
    r"\s+COMPACT\s+'(?P<kind>\w+)'\s*;?\s*$"
)
_MERGE_RE = re.compile(
    r"(?is)^\s*MERGE\s+INTO\s+(?P<name>[\w.`]+)"
    r"(?:\s+(?:AS\s+)?(?P<talias>\w+))?"
    r"\s+USING\s+(?P<src>\(.+?\)|[\w.`]+)"
    r"(?:\s+(?:AS\s+)?(?P<salias>\w+))?"
    r"\s+ON\s+(?P<cond>.+?)"
    r"(?P<clauses>\s+WHEN\s+.+?)\s*;?\s*$"
)
_MERGE_WHEN_RE = re.compile(
    r"(?is)WHEN\s+(?P<not_>NOT\s+)?MATCHED"
    r"(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+"
    r"(?P<action>UPDATE\s+SET\s+.+?|DELETE|INSERT\s+.+?)"
    r"(?=\s+WHEN\s+|\s*$)"
)
_MERGE_INSERT_RE = re.compile(
    r"(?is)^INSERT\s+(?:\(\s*(?P<cols>[\w`\s,]+?)\s*\)\s+)?"
    r"VALUES\s*\(\s*(?P<vals>.+?)\s*\)\s*$"
)
_SHOW_COMPACTIONS_STMT_RE = re.compile(
    r"(?is)^\s*SHOW\s+COMPACTIONS\s*;?\s*$"
)
_SHOW_TXNS_STMT_RE = re.compile(
    r"(?is)^\s*SHOW\s+TRANSACTIONS\s*;?\s*$"
)
_SHOW_LOCKS_STMT_RE = re.compile(
    r"(?is)^\s*SHOW\s+LOCKS(?:\s+(?P<name>[\w.`]+))?\s*;?\s*$"
)
_ABORT_TXNS_RE = re.compile(
    r"(?is)^\s*ABORT\s+TRANSACTIONS\s+(?P<ids>[\w.,:\-\s]+?)\s*;?\s*$"
)
_ABORT_TOKEN_RE = re.compile(
    r"(?i)^(?P<name>[\w.]+):writeid-(?P<w>\d+)$"
)

# --- GRANT/REVOKE/SHOW GRANTS over the wire (HS2 SQL-std auth) -------------

_ACL_STMT_RE = re.compile(r"(?is)^\s*(?:GRANT|REVOKE|SHOW\s+GRANTS)\b")
_GRANT_RE = re.compile(
    r"(?is)^\s*GRANT\s+SELECT\s*(?:\(\s*(?P<cols>[\w`\s,]+?)\s*\))?"
    r"\s+ON\s+(?:TABLE\s+)?(?P<obj>[\w.`]+)"
    r"\s+TO\s+(?:USER\s+)?(?P<grantee>\w+)\s*;?\s*$"
)
_REVOKE_RE = re.compile(
    r"(?is)^\s*REVOKE\s+SELECT\s*(?:\(\s*(?P<cols>[\w`\s,]+?)\s*\))?"
    r"\s+ON\s+(?:TABLE\s+)?(?P<obj>[\w.`]+)"
    r"\s+FROM\s+(?:USER\s+)?(?P<grantee>\w+)\s*;?\s*$"
)
_SHOW_GRANTS_RE = re.compile(
    r"(?is)^\s*SHOW\s+GRANTS(?:\s+FOR\s+(?:USER\s+)?(?P<user>\w+))?\s*;?\s*$"
)


def _acl_object_token(m: "re.Match[str]") -> str:
    """ACL token of a GRANT/REVOKE object clause: the (possibly
    db-qualified) object name, with a column list folded into the
    ``obj:colA|colB`` column-scope form authz.py enforces."""
    obj = m.group("obj").replace("`", "").lower()
    cols = m.group("cols")
    if cols:
        col_list = "|".join(
            c.strip().replace("`", "").lower()
            for c in cols.split(",")
            if c.strip()
        )
        return f"{obj}:{col_list}"
    return obj


def _bare_name(name: str) -> str:
    """Catalog key of a possibly db-qualified, possibly backticked
    table reference (the TransactionCatalog keys on bare names)."""
    return name.replace("`", "").split(".")[-1].lower()


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parens/quotes (UPDATE set-lists can
    contain function calls and string literals with commas)."""
    out, depth, quote, cur = [], 0, None, []
    i = 0
    while i < len(s):
        c = s[i]
        if quote:
            cur.append(c)
            if c == quote and not (i + 1 < len(s) and s[i + 1] == quote):
                quote = None
            elif c == quote:  # doubled quote inside literal
                cur.append(s[i + 1])
                i += 1
        elif c in "'\"":
            quote = c
            cur.append(c)
        elif c == "(":
            depth += 1
            cur.append(c)
        elif c == ")":
            depth -= 1
            cur.append(c)
        elif c == sep and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    out.append("".join(cur))
    return [p.strip() for p in out if p.strip()]


def _sanitize(msg: str) -> str:
    return " ".join(str(msg).split())[:500]


class TxnSessionManager:
    """Python half of the served transaction surface: per-connection
    statement buffers + the COMMIT binding to TransactionCatalog.

    Implements the ``sparkgraft.TxnHandler`` bridge interface (py4j
    callback proxy). Register with :func:`install_txn_handler` after
    the session is up; tables become transactional by being enrolled
    in the manager's TransactionCatalog (seed them with
    ``catalog.commit(spark, {name: df})``), and ``publish_all()``
    projects their pinned versions into the metastore so JDBC reads
    resolve BY NAME."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: TransactionCatalog,
        publish_db: str = "txn",
        publish: bool = True,
        max_retries: int = 5,
        initiator=None,
        ledger: "HiveWriteIdLedger | None" = None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.publish_db = publish_db
        self.publish = publish
        self.max_retries = max_retries
        #: served hive-ACID layouts addressable by DML/DDL over the
        #: wire (enroll_hive_acid): name -> {root, schema, fields,
        #: n_buckets, bucket_col}
        self._acid: dict[str, dict] = {}
        #: writeid ledger (the metastore TXNS analog, r12): serializes
        #: allocation across concurrent wire sessions, keeps in-flight
        #: writeids invisible to every served election, and — when
        #: given a persistent path — survives the manager so recover()
        #: can abort a crashed commit's writeids. An in-memory ledger
        #: by default (same-process guarantees only).
        self.ledger = ledger if ledger is not None else HiveWriteIdLedger()
        #: optional HiveAcidInitiator: the ALTER TABLE ... COMPACT
        #: queue target (and the daemon that republishes after folds)
        self.initiator = initiator
        # guards PUBLICATION only — commits themselves serialize
        # through the catalog's exclusive-create slots (holding a
        # manager lock across catalog.commit would deadlock two
        # connections committing through the same handler)
        self._publish_lock = threading.Lock()
        #: sessionId -> list[(table, kind, payload...)] buffered ops
        self._open: dict[str, list[tuple]] = {}
        #: sessionId -> wire identity captured at BEGIN. Buffered DML
        #: executes at COMMIT as the in-process service (the analyzer
        #: ACL rule skips empty identities), so the TXN surface must
        #: enforce grants ITSELF or a scoped user could launder reads
        #: of ungranted tables through an INSERT body (r8).
        self._txn_user: dict[str, str] = {}
        #: sessionId -> {acid root -> committed-writeid snapshot at
        #: the transaction's FIRST statement against that table} —
        #: the baseline commitTxn's write-set validation uses
        #: (HIVE-13395 first-committer-wins, r13 task 2)
        self._txn_snap: dict[str, dict[str, frozenset]] = {}
        #: live lock table (the DbLockManager / HIVE_LOCKS analog,
        #: r13 task 6): SHARED_WRITE for row-level DML + INSERT,
        #: EXCLUSIVE for INSERT OVERWRITE; acquired at buffer time
        #: (BEGIN blocks) or statement entry (autocommit), released
        #: at COMMIT/ROLLBACK/ABORT/statement end. Conflicts REFUSE
        #: (Hive would queue; the non-blocking refusal is this
        #: surface's documented posture).
        self._locks: list[dict] = []
        self._locks_mutex = threading.Lock()
        if publish:
            spark.sql(
                f"CREATE DATABASE IF NOT EXISTS `"
                + publish_db.replace("`", "``")
                + "`"
            )

    def _mint_visibility(self, root: str) -> int:
        """A compaction's visibility txn (HIVE-20823), minted from the
        ledger's dedicated visibility sequence — monotone and durable,
        so re-attempted folds order by their ``_vNNNNNNN`` suffix,
        and table writeids are never consumed by compactions (Hive's
        visibility ids are TXN ids, not writeids)."""
        return self.ledger.next_visibility_txn()

    # -- lock manager (DbLockManager analog, r13 task 6) -----------------

    def _acquire_lock(
        self, session: str, table: str, ltype: str, user: str
    ) -> str | None:
        """Acquire a table lock or explain the refusal. Compatibility
        matrix `[upstream: hive DbLockManager / LockType]`:
        SHARED_WRITE ∥ SHARED_WRITE (row-level DML and INSERTs
        interleave — writeids and the write-set validation order
        them), anything ∥ EXCLUSIVE refuses (IOW rewrites the
        table). Re-acquisition by the same session is a no-op."""
        with self._locks_mutex:
            for lk in self._locks:
                if lk["table"] != table:
                    continue
                if lk["session"] == session:
                    if lk["type"] == ltype or lk["type"] == "EXCLUSIVE":
                        return None  # already held (same or stronger)
                    continue
                if ltype == "EXCLUSIVE" or lk["type"] == "EXCLUSIVE":
                    return (
                        f"cannot acquire {ltype} lock on '{table}': "
                        f"conflicting {lk['type']} lock held by "
                        f"session '{lk['session']}'"
                    )
            self._locks.append(
                {
                    "session": session,
                    "table": table,
                    "type": ltype,
                    "user": user,
                }
            )
            return None

    def _release_session_locks(self, session: str) -> None:
        with self._locks_mutex:
            self._locks = [
                lk for lk in self._locks if lk["session"] != session
            ]

    # -- bridge entry ----------------------------------------------------

    def handle(self, session_id: str, *args: str) -> str:  # noqa: C901
        """One statement from one connection; see TxnHandler protocol.

        Bridge calls are 3-arg ``(session_id, user, sql)``; the 2-arg
        ``(session_id, sql)`` form (user = in-process) is kept for
        direct unit driving."""
        user, sql_text = ("", args[0]) if len(args) == 1 else args
        try:
            return self._handle(session_id, sql_text, user)
        except Exception as e:  # never leak a raw traceback to the wire
            self._open.pop(session_id, None)
            self._txn_user.pop(session_id, None)
            return f"ERR_ENDED:{_sanitize(e)}"

    def _handle(self, session_id: str, sql_text: str, user: str = "") -> str:
        if _ACL_STMT_RE.match(sql_text):
            return self._acl_statement(session_id, user, sql_text)
        m = _ALTER_COMPACT_RE.match(sql_text)
        if m:
            return self._compact_statement(session_id, user, m)
        if _SHOW_COMPACTIONS_STMT_RE.match(sql_text):
            # Hive's literal statement, rewritten onto the served
            # queue view (SQL: protocol) — a plain read, legal inside
            # or outside a transaction
            if (
                self.initiator is None
                or self.initiator.serve_compactions_as is None
            ):
                prefix = (
                    "ERR_ACTIVE" if session_id in self._open else "ERR_ENDED"
                )
                return (
                    f"{prefix}:no compaction queue is served on this "
                    "session (attach a HiveAcidInitiator with "
                    "serve_compactions_as)"
                )
            self.initiator._publish_compactions()  # fresh snapshot
            return (
                "SQL:SELECT seq, table_root, kind, detail, state "
                f"FROM global_temp.{self.initiator.serve_compactions_as}"
            )
        if _SHOW_TXNS_STMT_RE.match(sql_text):
            # Hive's SHOW TRANSACTIONS (metastore TXNS) — the live
            # per-connection buffers plus the writeid ledger's
            # non-committed entries (open = in-flight acid commits,
            # aborted = failed/crashed writeids awaiting the Cleaner —
            # Hive shows OPEN and ABORTED txns, never committed ones);
            # published fresh and rewritten onto the served view
            rows = [
                (sid, "OPEN", self._txn_user.get(sid, ""), len(ops_))
                for sid, ops_ in sorted(self._open.items())
            ] + [
                (f"{name}:writeid-{w}", state.upper(), "", 0)
                for name, ent in sorted(self._acid.items())
                for w, state in sorted(
                    self.ledger.entries(ent["root"]).items()
                )
                if state != "committed"
            ]
            self.spark.createDataFrame(
                rows,
                "txn_session string, state string, txn_user string,"
                " n_buffered int",
            ).createOrReplaceGlobalTempView("sparkgraft_transactions")
            return (
                "SQL:SELECT txn_session, state, txn_user, n_buffered "
                "FROM global_temp.sparkgraft_transactions"
            )
        m = _SHOW_LOCKS_STMT_RE.match(sql_text)
        if m:
            # Hive's SHOW LOCKS (metastore HIVE_LOCKS), served from
            # the REAL lock table (r13 task 6): SHARED_WRITE acquired
            # at buffer time for every table an open BEGIN block has
            # buffered DML for, EXCLUSIVE for an in-flight IOW;
            # released at COMMIT/ROLLBACK/ABORT `[upstream: hive
            # DDLTask SHOW LOCKS → TxnStore showLocks;
            # DbLockManager]`
            with self._locks_mutex:
                rows = sorted(
                    (
                        lk["session"],
                        lk["table"],
                        lk["type"],
                        "ACQUIRED",
                        lk["user"],
                    )
                    for lk in self._locks
                )
            if m.group("name"):
                want = _bare_name(m.group("name"))
                rows = [r for r in rows if r[1] == want]
            self.spark.createDataFrame(
                rows,
                "lock_session string, table_name string, lock_type "
                "string, state string, lock_user string",
            ).createOrReplaceGlobalTempView("sparkgraft_locks")
            return (
                "SQL:SELECT lock_session, table_name, lock_type, "
                "state, lock_user FROM global_temp.sparkgraft_locks"
            )
        m = _ABORT_TXNS_RE.match(sql_text)
        if m:
            return self._abort_transactions(session_id, user, m)
        if _BEGIN_RE.match(sql_text):
            if session_id in self._open:
                return (
                    "ERR_ACTIVE:nested BEGIN: a transaction is already "
                    "open on this session"
                )
            self._open[session_id] = []
            self._txn_user[session_id] = user
            self._txn_snap[session_id] = {}
            base = self.catalog.current_version()
            return f"ACTIVE:Transaction started (catalog v{base})"
        ops = self._open.get(session_id)
        if ops is None:
            # a COMMIT/ROLLBACK with no open transaction: happens when
            # this session's BEGIN block was killed remotely (ABORT
            # TRANSACTIONS) — answer honestly instead of letting the
            # delegate parser throw on the bare keyword
            if _COMMIT_RE.match(sql_text) or _ROLLBACK_RE.match(sql_text):
                return (
                    "ERR_ENDED:no transaction is open on this session "
                    "(it may have been aborted by an administrator)"
                )
            # outside any transaction: bare DML against an enrolled
            # hive-ACID layout is a single-statement auto-commit
            # transaction (Hive's default posture — every DML runs in
            # its own txn); anything else passes to the delegate
            try:
                parsed = self._parse_dml(sql_text)
            except ValueError as e:
                # the statement matched a DML grammar head but its
                # body did not parse (malformed SET list, unsupported
                # MERGE clause): OURS to refuse — passing it through
                # would run against the served VIEW (r12 advisor: the
                # silently-truncated MERGE previously committed here)
                return f"ERR_ENDED:{_sanitize(e)}"
            if parsed is not None and parsed[0] in self._acid:
                return self._acid_autocommit(
                    session_id, user, parsed[0], parsed[1]
                )
            return "PASS"  # stale Java-side flag: not in a txn
        if _COMMIT_RE.match(sql_text):
            return self._commit(session_id, ops)
        if _ROLLBACK_RE.match(sql_text):
            n = len(ops)
            self._open.pop(session_id, None)
            self._txn_user.pop(session_id, None)
            self._txn_snap.pop(session_id, None)
            self._release_session_locks(session_id)
            return f"DONE:Transaction rolled back ({n} buffered statements discarded)"
        try:
            parsed = self._parse_dml(sql_text)
        except ValueError as e:
            return f"ERR_ACTIVE:{_sanitize(e)}"
        if parsed is not None:
            return self._buffer(session_id, parsed[0], parsed[1])
        # reads (and anything else) pass through: statement-level READ
        # COMMITTED against the published catalog state — Hive ACID's
        # read posture for open transactions
        return "PASS"

    @staticmethod
    def _parse_dml(sql_text: str):
        """One statement against the DML grammar → (bare target name,
        op tuple) or None when not DML. Raises ValueError for a
        malformed UPDATE SET clause."""
        m = _INSERT_RE.match(sql_text)
        if m:
            return _bare_name(m.group("name")), (
                "insert",
                m.group("mode").lower(),
                m.group("body"),
                m.group("part"),
            )
        m = _DELETE_RE.match(sql_text)
        if m:
            return _bare_name(m.group("name")), ("delete", m.group("pred"))
        m = _UPDATE_RE.match(sql_text)
        if m:
            return _bare_name(m.group("name")), (
                "update",
                TxnSessionManager._parse_set_list(m.group("sets")),
                m.group("pred"),
            )
        m = _MERGE_RE.match(sql_text)
        if m:
            return TxnSessionManager._parse_merge(m)
        return None

    @staticmethod
    def _parse_set_list(sets_text: str) -> tuple:
        sets = []
        for part in _split_top_level(sets_text):
            if "=" not in part:
                raise ValueError(f"malformed SET clause: {part}")
            col, expr = part.split("=", 1)
            # strip an optional target-alias prefix (SET t.price = …)
            sets.append(
                (
                    col.strip().replace("`", "").split(".")[-1],
                    expr.strip(),
                )
            )
        return tuple(sets)

    @staticmethod
    def _parse_merge(m: "re.Match[str]"):
        """MERGE INTO t USING src ON cond WHEN … → the op tuple
        ("merge", src_sql, on_cond, talias, salias, matched_clauses,
        insert_cols, insert_vals, insert_cond). Supported form
        (documented): any ordered mix of WHEN MATCHED [AND c] THEN
        UPDATE SET …/DELETE plus at most one WHEN NOT MATCHED
        [AND c] THEN INSERT [(cols)] VALUES (…) — Hive's own MERGE
        surface."""
        name = _bare_name(m.group("name"))
        talias = m.group("talias") or name
        src = m.group("src").strip()
        if src.startswith("("):
            if not m.group("salias"):
                raise ValueError(
                    "MERGE subquery source needs an alias: USING "
                    "(SELECT …) s"
                )
            src_sql = src[1:-1].strip()
        else:
            src_sql = f"SELECT * FROM {src}"
        salias = m.group("salias") or _bare_name(src)
        matched: list[tuple] = []
        insert_cols = insert_vals = insert_cond = None
        clauses_text = m.group("clauses")
        # total-coverage guard (r12 advisor): the WHEN-clause regex
        # silently skipped anything it could not match — 'WHEN NOT
        # MATCHED BY SOURCE THEN DELETE' parsed to just the OTHER
        # clauses and the partial MERGE committed. Require the matched
        # spans to tile the entire clauses text (whitespace-only gaps)
        # so unsupported/garbled clauses refuse instead of dropping.
        # An embedded CASE WHEN inside a SET expression also lands
        # here (the lookahead truncates the action, leaving residue)
        # — refused explicitly rather than mis-split.
        cursor = 0
        for wm in _MERGE_WHEN_RE.finditer(clauses_text):
            gap = clauses_text[cursor:wm.start()]
            if gap.strip():
                raise ValueError(
                    "unsupported MERGE clause text: "
                    f"{gap.strip()[:80]!r} (supported: WHEN MATCHED "
                    "[AND c] THEN UPDATE SET …/DELETE, WHEN NOT "
                    "MATCHED [AND c] THEN INSERT [(cols)] VALUES (…); "
                    "CASE WHEN inside MERGE actions is not supported)"
                )
            cursor = wm.end()
            action = wm.group("action").strip()
            if wm.group("not_"):
                im = _MERGE_INSERT_RE.match(action)
                if im is None:
                    raise ValueError(
                        "WHEN NOT MATCHED supports THEN INSERT "
                        "[(cols)] VALUES (…) only"
                    )
                if insert_vals is not None:
                    raise ValueError(
                        "at most one WHEN NOT MATCHED clause"
                    )
                insert_cond = wm.group("cond")
                insert_vals = tuple(
                    _split_top_level(im.group("vals"))
                )
                if im.group("cols"):
                    insert_cols = tuple(
                        c.strip().replace("`", "").lower()
                        for c in im.group("cols").split(",")
                        if c.strip()
                    )
            elif action.upper() == "DELETE":
                matched.append((wm.group("cond"), "delete"))
            else:  # UPDATE SET …
                matched.append(
                    (
                        wm.group("cond"),
                        TxnSessionManager._parse_set_list(
                            action[len("UPDATE SET"):]
                        ),
                    )
                )
        if clauses_text[cursor:].strip():
            raise ValueError(
                "unsupported MERGE clause text: "
                f"{clauses_text[cursor:].strip()[:80]!r}"
            )
        if not matched and insert_vals is None:
            raise ValueError("MERGE needs at least one WHEN clause")
        return name, (
            "merge",
            src_sql,
            m.group("cond").strip(),
            talias,
            salias,
            tuple(matched),
            insert_cols,
            insert_vals,
            insert_cond,
        )

    # -- GRANT/REVOKE/SHOW GRANTS (HS2 SQL-std auth statements) -----------

    def _acl_statement(self, session_id: str, user: str, sql: str) -> str:
        """Serve the SQL-standard authorization statements against the
        live file-backed ACL store (authz.py's grant/revoke — here
        bound to their actual SQL spellings). Admin gate: the
        in-process session (empty wire identity) or a '*'-granted wire
        user; everyone may SHOW GRANTS for themselves. Grants take
        effect on the NEXT statement (the rule re-reads the file), no
        server restart. Not transactional: refused inside an open
        BEGIN (Hive ACID's posture — DDL/auth statements auto-commit
        outside the txn scope, which would break atomicity promises,
        so we refuse rather than silently escape the transaction)."""
        from layer_apache_hive_spark import authz

        if session_id in self._open:
            return (
                "ERR_ACTIVE:GRANT/REVOKE/SHOW GRANTS are not "
                "transactional statements; COMMIT or ROLLBACK first"
            )
        acl_file = os.environ.get("SPARK_GRAFT_HS2_ACL_FILE", "")
        if not acl_file:
            return (
                "ERR_ENDED:no live policy store: served GRANT/REVOKE "
                "need SPARK_GRAFT_HS2_ACL_FILE (the env-var ACL is "
                "frozen at JVM start and cannot be mutated)"
            )
        grants = authz.parse_acl(
            open(acl_file).read().strip()
            if os.path.exists(acl_file)
            else ""
        )
        admin = user == "" or "*" in grants.get(user, set())
        m = _SHOW_GRANTS_RE.match(sql)
        if m:
            target = (m.group("user") or user or "").strip()
            if not admin and target != user:
                return (
                    f"ERR_ENDED:user '{user}' may only SHOW GRANTS "
                    "for themselves"
                )
            toks = sorted(grants.get(target, set()))
            shown = ", ".join(toks) if toks else "(none)"
            return f"DONE:grants for '{target}': {shown}"
        if not admin:
            return (
                f"ERR_ENDED:user '{user}' lacks admin privilege: only "
                "'*'-granted users (or the in-process session) may "
                "GRANT/REVOKE"
            )
        m = _GRANT_RE.match(sql)
        if m:
            token = _acl_object_token(m)
            authz.grant(acl_file, m.group("grantee"), token)
            return (
                f"DONE:Granted SELECT on '{token}' to "
                f"'{m.group('grantee')}' (live on next statement)"
            )
        m = _REVOKE_RE.match(sql)
        if m:
            token = _acl_object_token(m)
            authz.revoke(acl_file, m.group("grantee"), token)
            return (
                f"DONE:Revoked '{token}' from '{m.group('grantee')}'"
            )
        return (
            "ERR_ENDED:unsupported authorization statement: expected "
            "GRANT SELECT[(c1, c2)] ON [TABLE] obj TO [USER] name | "
            "REVOKE SELECT[(...)] ON [TABLE] obj FROM [USER] name | "
            "SHOW GRANTS [FOR name]"
        )

    # -- served hive-ACID layouts (wire DML + COMPACT; r10 verdict ---------
    # "what's missing" #3 and next-round task 8) ---------------------------

    def enroll_hive_acid(
        self,
        name: str,
        root: str,
        payload_schema: list[tuple[str, str]],
        payload_fields=None,
        n_buckets: int = 4,
        bucket_col: str | None = None,
        serve: bool = True,
        insert_only: bool = False,
        fmt: str = "parquet",
        partition_col: str | None = None,
        partition_type: str = "string",
    ) -> str:
        """Make an AcidUtils layout DML-addressable over the wire:
        ``INSERT INTO <name> …`` appends ``delta_W_W`` dirs (one
        writeid per transaction, ``delta_W_W_ssss`` statement dirs for
        multi-statement BEGIN blocks), ``UPDATE``/``DELETE`` write
        HIVE-14035 split-update delete_delta (+ insert) dirs, and
        ``INSERT OVERWRITE`` writes a new ``base_W`` — each a
        single-statement auto-commit transaction through the manager's
        writeid ledger, with the served global-temp view re-published
        after each commit. When the manager holds an initiator, the
        layout is enrolled there too (under the same served name, with
        the ledger's valid-writeid closure) so threshold folds and
        ``ALTER TABLE … COMPACT`` keep the view fresh and never fold
        aborted events. ``insert_only=True`` enrolls an MM table
        (HIVE-14535): INSERTs land as whole plain-file delta dirs with
        no identity assignment, and row-level UPDATE/DELETE are
        refused (the format has no row identities to target).
        ``serve=False`` enrolls for DML without publishing a view.

        ``partition_col`` enrolls a PARTITIONED layout (r13):
        ``root/<col>=<value>/…`` with one AcidUtils state per
        partition dir and TABLE-level writeids — ``INSERT … PARTITION
        (col='v')`` (static), dynamic INSERT carrying the partition
        column last, per-partition UPDATE/DELETE event dirs under one
        writeid, single-partition INSERT OVERWRITE, MERGE (insert
        expressions carry the partition value last), and ``ALTER
        TABLE … PARTITION (col='v') COMPACT`` routing one partition
        to the initiator `[upstream: hive AcidUtils getAcidState per
        partition; CompactionRequest (db, table, partition)]`.
        Partitioned MM tables are not supported yet (refused)."""
        if partition_col is not None and insert_only:
            raise ValueError(
                "partitioned insert-only (MM) enrollment is not "
                "supported: partition_col requires a full-ACID table"
            )
        ent = {
            "root": root,
            "schema": payload_schema,
            "fields": payload_fields,
            "n_buckets": n_buckets,
            "bucket_col": bucket_col,
            "name": _bare_name(name),
            "insert_only": insert_only,
            "fmt": fmt,
            "serve": serve,
            "partition_col": partition_col,
            "partition_type": partition_type,
        }
        self._acid[ent["name"]] = ent
        if partition_col is not None:
            # partition dirs enroll in the initiator LAZILY, at the
            # first ALTER TABLE … PARTITION (…) COMPACT — the set of
            # partitions is dynamic and the whole-root thresholds do
            # not apply to a root holding only col=value dirs
            if serve:
                self._republish_acid(ent)
            return f"global_temp.{ent['name']}"
        if self.initiator is not None:
            self.initiator.enroll(
                root,
                payload_schema,
                payload_fields,
                serve_as=ent["name"] if serve else None,
                insert_only=insert_only,
                fmt=fmt,
                valid_writeids_fn=lambda r=root, n=ent[
                    "name"
                ]: self.ledger.valid_writeids(r, table=n),
                visibility_fn=lambda r=root: self._mint_visibility(r),
            )
        elif serve:
            self._republish_acid(ent)
        return f"global_temp.{ent['name']}"

    def _republish_acid(self, ent: dict) -> None:
        from layer_apache_hive_spark.sources.hive_acid import (
            publish_hive_acid,
            publish_hive_mm,
        )

        if not ent.get("serve", True):
            return  # enroll_hive_acid(serve=False): never publish
        # the whole election + view write serializes under the publish
        # lock: with concurrent committers, a publish whose ELECTION
        # ran before another thread's commit must never overwrite that
        # thread's own (fresher) publish — the same slower-publisher
        # rule the catalog commit path applies
        with self._publish_lock:
            vw = self.ledger.valid_writeids(
                ent["root"], table=ent["name"]
            )
            if ent.get("insert_only"):
                publish_hive_mm(
                    self.spark,
                    ent["root"],
                    ent["fmt"],
                    ent["name"],
                    empty_schema=", ".join(
                        f"{n} {t}" for n, t in ent["schema"]
                    ),
                    valid_writeids=vw,
                )
            else:
                publish_hive_acid(
                    self.spark,
                    ent["root"],
                    ent["schema"],
                    ent["name"],
                    valid_writeids=vw,
                    partition_col=ent["partition_col"],
                    partition_type=ent["partition_type"],
                )

    def _acid_insert_df(
        self, ent: dict, body: str, dynamic: bool = False
    ) -> DataFrame:
        """Analyze an INSERT body against an enrollment: the payload
        columns, plus the partition column LAST for a ``dynamic``
        partitioned INSERT (Hive's dynamic-partition column rule).
        Normalizes to the declared schema for every table kind: the
        full-ACID writer casts again, but the MM path writes the frame
        raw — an `INSERT … VALUES (1, 2.0)` would land int/decimal
        parquet next to long/double files and poison later reads (r11
        advisor)."""
        incoming = self.spark.sql(body)
        names = [n for n, _ in ent["schema"]]
        pc = ent["partition_col"]
        cols = names + [pc] if dynamic else names
        if len(incoming.columns) != len(cols):
            if pc is None:
                raise ValueError(
                    f"INSERT column count {len(incoming.columns)} != "
                    f"acid table arity {len(names)}"
                )
            shape = (
                "payload + partition column last — dynamic"
                if dynamic
                else "payload only — static PARTITION"
            )
            raise ValueError(
                f"INSERT column count {len(incoming.columns)} != "
                f"expected {len(cols)} ({shape})"
            )
        aligned = incoming.toDF(*cols)
        for n, t in ent["schema"]:
            aligned = aligned.withColumn(n, F.col(n).cast(t))
        if dynamic:
            aligned = aligned.withColumn(
                pc, F.col(pc).cast(ent["partition_type"])
            )
        return aligned

    @staticmethod
    def _parse_partition_spec(spec: str | None):
        """``PARTITION (p='v')`` → ("p", "v") static; ``PARTITION
        (p)`` → ("p", None) declared-dynamic; None when no clause.
        Single partition column only (the enrollment surface);
        multi-column specs refuse."""
        if spec is None:
            return None
        m = _PARTITION_SPEC_RE.match(spec)
        if m is None:
            raise ValueError(
                f"malformed PARTITION spec: ({spec}) — expected "
                "(col='value') or (col)"
            )
        col = m.group("col").replace("`", "").lower()
        val = m.group("val")
        if val is not None and len(val) >= 2 and val[0] in "'\"" and (
            val[-1] == val[0]
        ):
            val = val[1:-1]
        return col, val

    def _mm_dml_refusal(self, ent: dict, op: tuple) -> str | None:
        if ent.get("insert_only") and op[0] in (
            "update",
            "delete",
            "merge",
        ):
            return (
                f"insert-only (MM) table '{ent['name']}' has no row "
                "identities: UPDATE/DELETE/MERGE need a full-ACID "
                "table (HIVE-14535 — MM tables accept INSERT and "
                "INSERT OVERWRITE only)"
            )
        return None

    def _txn_snapshot(self, ent: dict, snap_cache: dict | None):
        """The transaction's ONE materialized identity snapshot of
        ``ent`` (built on first use, shared by every UPDATE/DELETE/
        MERGE statement targeting the table): semantics-equal to each
        statement reading the committed pre-txn state separately —
        the minted list excludes every in-flight writeid — but paying
        the election read once per (transaction, table) instead of
        once per statement."""
        from layer_apache_hive_spark.sources.hive_acid import read_hive_acid

        if snap_cache is None:
            return None  # single-statement caller: writers self-read
        key = ent["name"]
        if key not in snap_cache:
            vw = self.ledger.valid_writeids(
                ent["root"], table=ent["name"]
            )
            snap = read_hive_acid(
                self.spark,
                ent["root"],
                ent["schema"],
                keep_identity=True,
                valid_writeids=vw,
                partition_col=ent["partition_col"],
                partition_type=ent["partition_type"],
            )
            # lazy: the election manifest is pinned HERE (the
            # directory listing runs at frame-build time, driver
            # side); the decode materializes inside the first
            # statement's single write job instead of a separate
            # checkpoint job, and later statements reuse the cached
            # RDD (r13 optimization — one fewer full job per
            # (transaction, table))
            snap_cache[key] = snap.localCheckpoint(eager=False)
        return snap_cache[key]

    def _apply_acid_op(
        self,
        ent: dict,
        op: tuple,
        w: int,
        stmt: int | None = None,
        snap_cache: dict | None = None,
        ws_out: dict | None = None,
    ) -> str:
        """Apply one statement's write under an ALLOCATED (still-open)
        writeid; the target scans for UPDATE/DELETE/MERGE read under
        the ledger's minted list, which excludes ``w`` itself and
        every other in-flight transaction — statement reads resolve
        against the committed pre-transaction state (no
        read-your-own-writes on this surface, Hive ACID's
        statement-level snapshot). Inside a multi-statement COMMIT,
        ``snap_cache`` shares ONE materialized snapshot per table
        across the row-level statements.

        One path for every layout: an unpartitioned enrollment is a
        table with one implicit partition (the root), so the writers
        take the enrollment's ``partition_col`` (None or the column)
        and return the dirs they wrote. On a partitioned table each
        verb writes per-TOUCHED-partition dirs under the one writeid,
        and the MERGE INSERT expression list carries the partition
        value LAST (the dynamic-partition column rule)."""
        from layer_apache_hive_spark.sources.hive_acid import (
            append_mm_delta,
            hive_acid_delete,
            hive_acid_insert,
            hive_acid_merge,
            hive_acid_update,
            hive_mm_overwrite,
        )

        root = ent["root"]
        vw = self.ledger.valid_writeids(root, table=ent["name"])
        kind = op[0]
        pc = ent["partition_col"]
        part = {
            "partition_col": pc,
            "partition_type": ent["partition_type"],
        }
        layout = {
            "n_buckets": ent["n_buckets"],
            "bucket_col": ent["bucket_col"],
        }
        # record the statement's update/delete/overwrite write set for
        # commit-time first-committer-wins validation (HIVE-13395):
        # '*' = the implicit partition of an unpartitioned table, else
        # the touched partition dirs. Pure INSERTs never note anything
        # (they cannot conflict).
        conflicts = kind != "insert" or op[1] == "overwrite"
        if kind == "insert":
            part_spec = self._parse_partition_spec(
                op[3] if len(op) > 3 else None
            )
            if part_spec is not None and pc is None:
                raise ValueError(
                    f"table '{ent['name']}' is not partitioned: "
                    "PARTITION clause refused"
                )
            if part_spec is not None and part_spec[0] != pc:
                raise ValueError(
                    f"unknown partition column "
                    f"'{part_spec[0]}' (table is partitioned by "
                    f"'{pc}')"
                )
            static_val = part_spec[1] if part_spec is not None else None
            df = self._acid_insert_df(
                ent, op[2], dynamic=pc is not None and static_val is None
            )
            if not ent.get("insert_only"):
                paths = hive_acid_insert(
                    self.spark,
                    root,
                    df,
                    ent["schema"],
                    ent["fields"],
                    w,
                    stmt=stmt,
                    overwrite=op[1] == "overwrite",
                    static_value=static_val,
                    partition_col=pc,
                    **layout,
                )
            elif op[1] == "overwrite":
                paths = [
                    hive_mm_overwrite(
                        self.spark, root, df, w, fmt=ent["fmt"]
                    )
                ]
            else:
                p = append_mm_delta(
                    self.spark, root, df, w, fmt=ent["fmt"], stmt=stmt
                )
                paths = [p] if p is not None else []
            empty = "empty statement, no delta"
        elif kind == "delete":
            paths = hive_acid_delete(
                self.spark,
                root,
                ent["schema"],
                ent["fields"],
                w,
                pred=op[1],
                valid_writeids=vw,
                stmt=stmt,
                snapshot=self._txn_snapshot(ent, snap_cache),
                **part,
            )
            empty = "no rows matched, no delete_delta"
        elif kind == "update":
            paths = hive_acid_update(
                self.spark,
                root,
                ent["schema"],
                ent["fields"],
                w,
                set_exprs=list(op[1]),
                pred=op[2],
                valid_writeids=vw,
                stmt=stmt,
                snapshot=self._txn_snapshot(ent, snap_cache),
                **layout,
                **part,
            )
            empty = "no rows matched"
        elif kind == "merge":
            _, src_sql, on_cond, talias, salias, matched, ic, iv, icond = op
            insert_values = None
            if iv is not None:
                full = [n for n, _ in ent["schema"]] + (
                    [pc] if pc is not None else []
                )
                if ic is not None:
                    unknown = set(ic) - set(full)
                    if unknown:
                        raise ValueError(
                            "MERGE INSERT names unknown columns "
                            f"{sorted(unknown)}"
                        )
                    if len(ic) != len(iv):
                        raise ValueError(
                            "MERGE INSERT column/value arity mismatch"
                        )
                    colmap = dict(zip(ic, iv))
                    # unnamed columns take NULL (Hive's rule); an
                    # unnamed PARTITION column inserts into
                    # __HIVE_DEFAULT_PARTITION__ via NULL
                    insert_values = [colmap.get(n, "NULL") for n in full]
                else:
                    insert_values = list(iv)
            paths = hive_acid_merge(
                self.spark,
                root,
                ent["schema"],
                ent["fields"],
                w,
                source_df=self.spark.sql(src_sql),
                on_cond=on_cond,
                target_alias=talias,
                source_alias=salias,
                matched_clauses=list(matched),
                insert_values=insert_values,
                insert_cond=icond,
                valid_writeids=vw,
                stmt=stmt,
                snapshot=self._txn_snapshot(ent, snap_cache),
                **layout,
                **part,
            )
            empty = "no rows matched"
        else:  # pragma: no cover
            raise ValueError(f"unknown acid op {kind!r}")
        if conflicts and paths and ws_out is not None:
            ws_out.setdefault(root, set()).update(
                "*"
                if pc is None
                else os.path.relpath(p, root).split(os.sep)[0]
                for p in paths
            )
        return "+".join(os.path.relpath(p, root) for p in paths) or empty

    def _acid_autocommit(
        self, session_id: str, user: str, name: str, op: tuple
    ) -> str:
        """Bare DML against an enrolled acid layout: one
        single-statement transaction — allocate a writeid through the
        ledger (serialized across concurrent sessions), apply the
        write, mark the writeid committed, re-publish the served view.
        Any failure aborts the writeid, so a half-written statement is
        never elected.

        Locking (r13 task 6): the statement holds a real table lock
        for its duration — EXCLUSIVE for INSERT OVERWRITE (refused
        while any other session holds ANY lock: an open BEGIN block's
        SHARED_WRITE blocks a concurrent IOW, Hive's DbLockManager
        matrix), SHARED_WRITE otherwise. Its committed-writeid
        snapshot is recorded before the write and validated at commit
        (HIVE-13395) — a concurrent transaction that committed an
        overlapping update/delete in the window aborts THIS one."""
        ent = self._acid[name]
        refusal = self._mm_dml_refusal(ent, op)
        if refusal is not None:
            return f"ERR_ENDED:{refusal}"
        denial = self._authorize_op(user, name, op)
        if denial is not None:
            return f"ERR_ENDED:Authorization error: {denial}"
        ltype = (
            "EXCLUSIVE"
            if op[0] == "insert" and op[1] == "overwrite"
            else "SHARED_WRITE"
        )
        lock_token = f"{session_id}#stmt"
        err = self._acquire_lock(lock_token, name, ltype, user)
        if err is not None:
            return f"ERR_ENDED:{err}"
        try:
            return self._acid_autocommit_locked(ent, name, op)
        finally:
            self._release_session_locks(lock_token)

    def _acid_autocommit_locked(
        self, ent: dict, name: str, op: tuple
    ) -> str:
        snapshot = self.ledger.committed_ids(ent["root"])
        w = self.ledger.allocate(ent["root"])
        write_sets: dict[str, set] = {}
        try:
            desc = self._apply_acid_op(ent, op, w, ws_out=write_sets)
            self.ledger.commit(
                ent["root"],
                w,
                write_set=write_sets.get(ent["root"]),
                snapshot=snapshot,
            )
        except Exception as e:
            self.ledger.abort(ent["root"], w)
            return (
                f"ERR_ENDED:statement failed (writeid {w} aborted): "
                f"{_sanitize(e)}"
            )
        self._republish_acid(ent)
        return f"DONE:Committed writeid {w} ({desc} on '{name}')"

    def _abort_if_doomed(
        self,
        ent: dict,
        t_ops: list[tuple],
        snapshots: dict,
        snap_cache: dict,
    ) -> None:
        """Optimistic first-committer-wins pre-check (HIVE-13395): when
        another transaction already COMMITTED an overlapping
        update/delete write set since this transaction's snapshot, the
        post-write validation in ``commit_many`` is guaranteed to abort
        us — so detect it BEFORE paying the statements' distributed
        delta writes (at scale, the entire doomed shuffle+write of the
        losing transaction is skipped; guide §1.2 — don't compute
        things you throw away). A committed writeid can never
        un-commit, so an abort decided here is the same outcome the
        authoritative under-lock validation would reach; when the probe
        finds no conflict the writes proceed and ``commit_many`` still
        validates under the ledger lock (the serialization point) —
        the probe never ADMITS a commit, it only fast-fails one.

        The probe prices only what it must: with no committed
        candidates (the uncontended fast path) it is a driver-side
        ledger lookup and no Spark work. With candidates, each buffered
        UPDATE/DELETE's write set is derived from the transaction's
        shared snapshot — '*' iff any row matches (unpartitioned),
        else the matched rows' partition tokens — the exact token
        algebra ``note_ws`` records after a real write. The snapshot
        materialized here is the same per-transaction cached frame the
        statements would consume, so no work is wasted on the
        no-conflict path. Pure INSERTs contribute no tokens (they never
        conflict); MERGE write sets need the merge join itself, so
        merges are not probed and fall through to the post-write
        validation."""
        from layer_apache_hive_spark.sources.hive_acid import (
            HiveWriteConflictError,
            _pkey_col,
        )

        root = ent["root"]
        snap_ids = snapshots.get(root)
        if snap_ids is None:
            return
        cands = self.ledger.committed_write_sets_since(root, snap_ids)
        if not cands:
            return
        row_ops = [op for op in t_ops if op[0] in ("update", "delete")]
        if not row_ops:
            return
        pc = ent["partition_col"]
        token = (
            F.lit("*")
            if pc is None
            else F.concat(F.lit(f"{pc}="), _pkey_col(pc))
        ).alias("__tok")
        snap = self._txn_snapshot(ent, snap_cache)
        ours: set[str] = set()
        for op in row_ops:
            pred = op[2] if op[0] == "update" else op[1]
            hits = (
                snap.filter(F.coalesce(F.expr(pred), F.lit(False)))
                if pred is not None
                else snap
            )
            toks = hits.select(token)
            # the implicit partition's '*' is decided by any one hit row
            # (and overlaps every candidate); partitions need them all
            rows = toks.take(1) if pc is None else toks.distinct().collect()
            ours.update(r["__tok"] for r in rows)
            if "*" in ours:
                break
        for w2 in sorted(cands):
            theirs = cands[w2]
            if "*" in ours or "*" in theirs or (ours & set(theirs)):
                raise HiveWriteConflictError(root, w2, theirs)

    def _commit_acid(
        self, ops: list[tuple], snapshots: dict | None = None
    ) -> str:
        """COMMIT of a transaction whose buffered statements all
        target enrolled acid layouts: per touched table, ONE writeid;
        a single statement appends the plain ``delta_W_W`` (or
        delete_delta), several append per-statement
        ``delta_W_W_ssss`` dirs (Hive's multi-statement layout — the
        same dirs _parse_acid_name elects and a minor compaction later
        merges). All writeids are allocated (OPEN) before any dir
        renames, every table's dirs are written, and then ONE ledger
        record commits them together (HiveWriteIdLedger.commit_many —
        the metastore commitTxn analog): a crash anywhere before that
        record leaves only OPEN writeids that recover() aborts, so
        ledger-aware readers never see a partial transaction — the
        r11-documented crash window between renames is closed.

        ``snapshots`` (root → committed-writeid set recorded at this
        transaction's first statement per table) arms the write-set
        validation (r13 task 2, HIVE-13395): commit_many checks —
        under the ledger lock, the serialization point — that no
        writeid committed since the snapshot carries an overlapping
        update/delete write set; on conflict every writeid of THIS
        transaction aborts (first-committer-wins) and the conflict
        error surfaces."""
        per_table: dict[str, list[tuple]] = {}
        for table, op in ops:
            per_table.setdefault(table, []).append(op)
        written: list[str] = []
        pairs: list[tuple[str, int]] = []
        write_sets: dict[str, set] = {}
        try:
            snap_cache: dict = {}
            for table, t_ops in per_table.items():
                ent = self._acid[table]
                w = self.ledger.allocate(ent["root"])
                pairs.append((ent["root"], w))
                self._abort_if_doomed(
                    ent, t_ops, snapshots or {}, snap_cache
                )
                for i, op in enumerate(t_ops):
                    desc = self._apply_acid_op(
                        ent,
                        op,
                        w,
                        stmt=i if len(t_ops) > 1 else None,
                        snap_cache=snap_cache,
                        ws_out=write_sets,
                    )
                    written.append(desc)
            self.ledger.commit_many(
                pairs, write_sets=write_sets, snapshots=snapshots or {}
            )
        except Exception:
            if pairs:
                self.ledger.abort_many(pairs)
            raise
        for table in per_table:
            self._republish_acid(self._acid[table])
        return (
            f"DONE:Committed {len(ops)} statements to "
            f"{len(per_table)} acid tables ({', '.join(written) or 'no rows'})"
        )

    def _compact_statement(
        self, session_id: str, user: str, m: "re.Match[str]"
    ) -> str:
        """ALTER TABLE <served acid name> COMPACT 'major'|'minor' —
        enqueue on the initiator (next pass runs it regardless of
        thresholds); the request is immediately visible in the served
        SHOW COMPACTIONS view as 'initiated'. Admin-gated like
        GRANT/REVOKE: compaction rewrites table storage."""
        if session_id in self._open:
            return (
                "ERR_ACTIVE:ALTER TABLE ... COMPACT is not a "
                "transactional statement; COMMIT or ROLLBACK first"
            )
        name = _bare_name(m.group("name"))
        kind = m.group("kind").lower()
        ent = self._acid.get(name)
        if ent is None:
            return (
                f"ERR_ENDED:'{name}' is not an enrolled hive-acid "
                "table; COMPACT applies to enroll_hive_acid targets"
            )
        if self.initiator is None:
            return (
                "ERR_ENDED:no compaction initiator is attached to "
                "this serving session"
            )
        if kind not in ("major", "minor"):
            return f"ERR_ENDED:unknown compaction kind '{kind}'"
        if user and self._full_grants(user) is not None:
            return (
                f"ERR_ENDED:user '{user}' lacks admin privilege: only "
                "'*'-granted users (or the in-process session) may "
                "request compactions"
            )
        try:
            spec = self._parse_partition_spec(m.group("part"))
        except ValueError as e:
            return f"ERR_ENDED:{_sanitize(e)}"
        pc = ent.get("partition_col")
        if pc is not None:
            # Hive compacts partitioned transactional tables one
            # PARTITION at a time — CompactionRequest carries (db,
            # table, partition) and getAcidState runs per partition
            if spec is None or spec[1] is None:
                return (
                    f"ERR_ENDED:'{name}' is partitioned: COMPACT "
                    f"needs PARTITION ({pc}='value') — Hive "
                    "compaction requests name one partition"
                )
            if spec[0] != pc:
                return (
                    f"ERR_ENDED:unknown partition column "
                    f"'{spec[0]}' (table is partitioned by '{pc}')"
                )
            from layer_apache_hive_spark.sources.hive_acid import (
                partition_subdir,
            )

            pdir = partition_subdir(ent["root"], pc, spec[1])
            if not os.path.isdir(pdir):
                return (
                    f"ERR_ENDED:partition {pc}={spec[1]} does not "
                    f"exist on '{name}'"
                )
            enrolled = ent.setdefault("_compact_enrolled", set())
            if pdir not in enrolled:
                # lazy per-partition initiator enrollment: the fold
                # and Cleaner see the TABLE-level valid-writeid
                # closure, and the served view re-publishes (whole
                # partitioned election) after any fold/clean
                self.initiator.enroll(
                    pdir,
                    ent["schema"],
                    ent["fields"],
                    serve_as=None,
                    valid_writeids_fn=lambda r=ent["root"], n=ent[
                        "name"
                    ]: self.ledger.valid_writeids(r, table=n),
                    republish_fn=lambda e=ent: self._republish_acid(e),
                    visibility_fn=lambda r=ent[
                        "root"
                    ]: self._mint_visibility(r),
                )
                enrolled.add(pdir)
            self.initiator.request_compaction(pdir, kind)
            return (
                f"DONE:Compaction request queued: {kind} on "
                f"'{name}' partition {pc}={spec[1]} (state "
                "'initiated'; the next initiator pass runs it)"
            )
        if spec is not None:
            return (
                f"ERR_ENDED:table '{name}' is not partitioned: "
                "PARTITION clause refused"
            )
        self.initiator.request_compaction(ent["root"], kind)
        return (
            f"DONE:Compaction request queued: {kind} on '{name}' "
            "(state 'initiated'; the next initiator pass runs it)"
        )

    def _abort_transactions(
        self, session_id: str, user: str, m: "re.Match[str]"
    ) -> str:
        """``ABORT TRANSACTIONS <id> [<id> …]`` — Hive's admin kill
        switch for stuck transactions `[upstream: hive HIVE-12634,
        DDLTask ABORT TRANSACTIONS → TxnStore abortTxns]`. Two id
        kinds, both as SHOW TRANSACTIONS prints them: an open wire
        session id (its buffer drops — the remote BEGIN block is
        rolled back from outside) and ``<table>:writeid-<W>`` (an
        OPEN ledger writeid flips to ABORTED — a hung commit's
        partial dirs become poison and the Cleaner reclaims them).
        Admin-gated like COMPACT; refused inside an open BEGIN (not
        a transactional statement)."""
        if session_id in self._open:
            return (
                "ERR_ACTIVE:ABORT TRANSACTIONS is not a transactional "
                "statement; COMMIT or ROLLBACK first"
            )
        if user and self._full_grants(user) is not None:
            return (
                f"ERR_ENDED:user '{user}' lacks admin privilege: only "
                "'*'-granted users (or the in-process session) may "
                "ABORT TRANSACTIONS"
            )
        # validate EVERY token before applying ANY abort (r12 advisor:
        # the old token-by-token loop had already dropped earlier
        # sessions when a later token errored — partial effect behind
        # a pure-failure message). All-or-nothing like abortTxns.
        tokens = m.group("ids").replace(",", " ").split()
        plan: list[tuple] = []
        for tok in tokens:
            if tok in self._open:
                plan.append(("session", tok))
                continue
            tm = _ABORT_TOKEN_RE.match(tok)
            if tm and _bare_name(tm.group("name")) in self._acid:
                ent = self._acid[_bare_name(tm.group("name"))]
                w = int(tm.group("w"))
                if self.ledger.entries(ent["root"]).get(w) != "open":
                    return (
                        f"ERR_ENDED:writeid {w} on '{_sanitize(tok)}' "
                        "is not open (nothing aborted)"
                    )
                plan.append(("writeid", tok, ent, w))
                continue
            return (
                f"ERR_ENDED:unknown transaction id '{_sanitize(tok)}' "
                "(expected an open wire session id or "
                "<table>:writeid-<W> as SHOW TRANSACTIONS prints "
                "them; nothing aborted)"
            )
        done: list[str] = []
        for item in plan:
            if item[0] == "session":
                tok = item[1]
                n = len(self._open.pop(tok))
                self._txn_user.pop(tok, None)
                self._txn_snap.pop(tok, None)
                self._release_session_locks(tok)
                done.append(
                    f"{tok}: wire buffer rolled back ({n} statements)"
                )
            else:
                _, tok, ent, w = item
                self.ledger.abort(ent["root"], w)
                self._republish_acid(ent)
                done.append(f"{tok}: writeid aborted")
        return f"DONE:Aborted {len(done)}: {'; '.join(done)}"

    # -- transaction-surface authorization ---------------------------------

    def _full_grants(self, user: str) -> set[str] | None:
        """The user's FULL-grant tokens (column-scoped tokens do NOT
        authorize transactional DML), or None when the surface is
        ungated: no ACL configured anywhere, an in-process identity,
        or a '*' grant. Mirrors the analyzer rule's policy sources —
        file store (fresh read) over env — because buffered DML
        executes at COMMIT as the in-process service and the rule
        therefore never sees it (the r8 laundering fix)."""
        from layer_apache_hive_spark import authz

        if user == "":
            return None
        path = os.environ.get("SPARK_GRAFT_HS2_ACL_FILE", "")
        if path:
            acl = open(path).read().strip() if os.path.exists(path) else ""
        else:
            acl = os.environ.get("SPARK_GRAFT_HS2_ACL", "")
            if not acl:
                return None  # no policy configured: authz inert
        grants = authz.parse_acl(acl).get(user, set())
        if "*" in grants:
            return None
        return {t for t in grants if ":" not in t}

    @staticmethod
    def _granted(full: set[str], bare: str, qual: str | None) -> bool:
        return bare in full or (qual is not None and qual in full)

    def _referenced_tables(self, body: str) -> list[tuple[str | None, str]]:
        """(bare, qualified-or-kind) for every leaf relation of the
        analyzed plan of ``body`` — the Python twin of the compiled
        rule's visit(), used where that rule cannot run. View bodies
        inline to their base relations here, so inside transactions
        reads resolve against BASE-table grants (no definer views —
        conservative, documented)."""
        plan = self.spark.sql(body)._jdf.queryExecution().analyzed()
        return self._relations_of_plan(plan)

    def _relations_of_plan(
        self, plan, include_root_leaves: bool = True
    ) -> list[tuple[str | None, str]]:
        """Classify every leaf relation reachable from ``plan`` —
        its own tree AND every subquery-expression plan. Subquery
        plans are NOT tree children (collectLeaves alone misses
        them; r8 advisor finding: a scalar subquery in an INSERT
        body bypassed the walk), so subqueriesAll() — which is
        transitive through nested subqueries — is walked too.
        ``include_root_leaves=False`` is used for UPDATE/DELETE
        expression probes, whose outer leaf is the pinned target
        table's own (path-based) snapshot read."""
        leaf_seqs = []
        if include_root_leaves:
            leaf_seqs.append(plan.collectLeaves())
        subs = plan.subqueriesAll()
        for i in range(subs.size()):
            leaf_seqs.append(subs.apply(i).collectLeaves())
        out: list[tuple[str | None, str]] = []
        for leaves in leaf_seqs:
            for i in range(leaves.size()):
                rel = self._classify_leaf(leaves.apply(i))
                if rel is not None:
                    out.append(rel)
        return out

    @staticmethod
    def _classify_leaf(leaf) -> tuple[str | None, str] | None:
        """One leaf → (bare, qualified) for catalog tables, (None,
        kind) for ungoverned/unknown relations (fail closed), or
        None for literal-row leaves that name no object."""
        cls = leaf.getClass().getSimpleName()
        if cls == "HiveTableRelation":
            ident = leaf.tableMeta().identifier()
        elif cls == "LogicalRelation":
            ct = leaf.catalogTable()
            if ct.isDefined():
                ident = ct.get().identifier()
            else:
                return (None, "path-based relation")
        elif cls in ("LocalRelation", "OneRowRelation", "Range"):
            return None  # literal rows (VALUES/SELECT 1): no object
        else:
            # unknown relation kinds fail CLOSED for scoped users
            return (None, cls)
        bare = ident.table().lower()
        qual = ident.unquotedString().lower()
        seg = qual.split(".")
        if len(seg) > 2:
            qual = ".".join(seg[-2:])
        return (bare, qual)

    def _authorize_op(self, user: str, table: str, op: tuple) -> str | None:
        """Grant check for one buffered statement under the BEGIN-time
        wire identity; returns the refusal message or None."""
        full = self._full_grants(user)
        if full is None:
            return None
        if not any(
            t == table or t.endswith("." + table) for t in full
        ):
            return (
                f"user '{user}' lacks a full grant on transactional "
                f"table '{table}'"
            )
        if op[0] == "insert":
            refs = self._referenced_tables(op[2])
            via = "the INSERT body"
        elif op[0] == "merge":
            refs = self._merge_references(table, op)
            via = "the MERGE statement"
        else:
            # UPDATE SET right-hand sides and UPDATE/DELETE WHERE
            # predicates also execute at COMMIT as the in-process
            # service (F.expr over the pinned snapshot) and may carry
            # scalar subqueries over other tables — authorize their
            # analyzed plans too (r8 advisor finding: a scoped user
            # laundered an ungranted read through an UPDATE SET
            # subquery)
            refs = self._expr_references(table, op)
            via = f"a buffered {op[0].upper()} expression"
        for bare, qual in refs:
            if bare is None:
                return (
                    f"user '{user}' may not reference ungoverned "
                    f"relations in a transaction ({qual})"
                )
            if not self._granted(full, bare, qual):
                return (
                    f"user '{user}' lacks a full grant on "
                    f"'{qual}' referenced by {via}"
                )
        return None

    def _merge_references(
        self, table: str, op: tuple
    ) -> list[tuple[str | None, str]]:
        """Leaf relations referenced by a buffered MERGE: the source
        body's analyzed plan (its leaves are real tables) plus a probe
        of every ON/WHEN/SET/VALUES expression over EMPTY frames with
        both aliases bound — subquery expressions inside conditions
        analyze exactly as they will at COMMIT, while the probe frames
        themselves are LocalRelations the walk ignores."""
        import uuid

        _, src_sql, on_cond, talias, salias, matched, _ic, iv, icond = op
        refs = self._referenced_tables(src_sql)
        ent = self._acid[table]
        tag = uuid.uuid4().hex[:12]
        ptv, psv = f"__authz_mt_{tag}", f"__authz_ms_{tag}"
        self.spark.createDataFrame(
            [], ", ".join(f"{n} {t}" for n, t in ent["schema"])
        ).createOrReplaceTempView(ptv)
        self.spark.sql(src_sql).limit(0).createOrReplaceTempView(psv)
        try:
            exprs: list[str] = []
            for cond, action in matched:
                if cond:
                    exprs.append(cond)
                if action != "delete":
                    exprs.extend(e for _, e in action)
            sel = ", ".join(f"({e})" for e in exprs) or "1"
            plan = (
                self.spark.sql(
                    f"SELECT {sel} FROM {ptv} {talias} "
                    f"JOIN {psv} {salias} ON {on_cond}"
                )
                ._jdf.queryExecution()
                .analyzed()
            )
            refs.extend(
                self._relations_of_plan(plan, include_root_leaves=False)
            )
            if iv:
                plan2 = (
                    self.spark.sql(
                        "SELECT "
                        + ", ".join(
                            f"({e})"
                            for e in list(iv)
                            + ([icond] if icond else [])
                        )
                        + f" FROM {psv} {salias}"
                    )
                    ._jdf.queryExecution()
                    .analyzed()
                )
                refs.extend(
                    self._relations_of_plan(
                        plan2, include_root_leaves=False
                    )
                )
        finally:
            self.spark.catalog.dropTempView(ptv)
            self.spark.catalog.dropTempView(psv)
        return refs

    def _expr_references(
        self, table: str, op: tuple
    ) -> list[tuple[str | None, str]]:
        """Leaf relations referenced by a buffered UPDATE/DELETE's
        expressions. Each expression is wrapped in a SELECT over the
        pinned target-table snapshot (so target columns resolve and
        subquery expressions analyze exactly as they will at COMMIT),
        then the plan is walked WITHOUT its root leaves — the outer
        leaf is the target's own snapshot read, already authorized by
        the caller's full-grant check on ``table``."""
        exprs: list[str] = []
        if op[0] == "delete":
            if op[1] is not None:
                exprs.append(op[1])
        elif op[0] == "update":
            exprs.extend(e for _, e in op[1])
            if op[2] is not None:
                exprs.append(op[2])
        if not exprs:
            return []
        ent = self._acid.get(table)
        if ent is not None:
            # acid targets are not catalog tables: probe expressions
            # against an empty frame of the declared payload schema
            # (same columns resolve, no election read spent on authz);
            # partitioned enrollments expose the partition column too
            cols = list(ent["schema"])
            if ent.get("partition_col"):
                cols.append(
                    (ent["partition_col"], ent["partition_type"])
                )
            pinned = self.spark.createDataFrame(
                [], ", ".join(f"{n} {t}" for n, t in cols)
            )
        else:
            pinned = self.catalog.table(table).read(self.spark)
        out: list[tuple[str | None, str]] = []
        for e in exprs:
            probe = pinned.select(F.expr(e).alias("__authz_probe__"))
            plan = probe._jdf.queryExecution().analyzed()
            out.extend(
                self._relations_of_plan(plan, include_root_leaves=False)
            )
        return out

    # -- buffering + commit ------------------------------------------------

    def _buffer(self, session_id: str, name: str, op: tuple) -> str:
        table = _bare_name(name)
        is_acid = table in self._acid
        if is_acid:
            if op[0] == "insert" and op[1] == "overwrite":
                # IOW writes base_W — a whole-table rewrite cannot be
                # one STATEMENT of a multi-statement writeid (the
                # base would hide its sibling statements' dirs);
                # Hive's IOW-in-txn runs as its own transaction too
                return (
                    "ERR_ACTIVE:INSERT OVERWRITE on a hive-acid table "
                    "is a single-statement transaction; COMMIT or "
                    "ROLLBACK first, then run it bare"
                )
            refusal = self._mm_dml_refusal(self._acid[table], op)
            if refusal is not None:
                return f"ERR_ACTIVE:{refusal}"
        elif table not in self.catalog.resolve():
            return (
                f"ERR_ACTIVE:table '{table}' is not enrolled in the "
                "transaction catalog; transactional DML is only atomic "
                "for enrolled tables"
            )
        elif op[0] == "merge":
            return (
                "ERR_ACTIVE:MERGE targets enrolled hive-acid tables "
                "only on this surface (catalog tables take "
                "INSERT/UPDATE/DELETE)"
            )
        # one transaction, one store: catalog commits are atomic via a
        # single exclusive-create, acid commits via per-dir renames —
        # mixing them would promise an atomicity that does not exist
        # across the two mechanisms, so it is refused honestly
        mixed = any(
            (t in self._acid) != is_acid
            for t, _ in self._open[session_id]
        )
        if mixed:
            return (
                "ERR_ACTIVE:this transaction already targets the "
                f"{'catalog' if is_acid else 'hive-acid'} store; one "
                "transaction cannot atomically span both stores"
            )
        try:
            denial = self._authorize_op(
                self._txn_user.get(session_id, ""), table, op
            )
        except Exception as e:
            # an analysis error in ONE statement (typo'd table in an
            # INSERT body, malformed expression) refuses that
            # statement but keeps the transaction open — previously
            # the handle() catch-all dropped the whole buffer with
            # ERR_ENDED, inconsistent with the ERR_ACTIVE posture of
            # every other statement-level refusal (r8 advisor)
            return (
                f"ERR_ACTIVE:statement rejected (analysis error): "
                f"{_sanitize(e)}"
            )
        if denial is not None:
            return f"ERR_ACTIVE:Authorization error: {denial}"
        if is_acid:
            # real lock acquisition (r13 task 6): SHARED_WRITE on the
            # target — a concurrent session's EXCLUSIVE (in-flight
            # IOW) refuses the statement, the transaction stays open
            err = self._acquire_lock(
                session_id,
                table,
                "SHARED_WRITE",
                self._txn_user.get(session_id, ""),
            )
            if err is not None:
                return f"ERR_ACTIVE:{err}"
            # the transaction's committed-writeid snapshot for this
            # table, recorded at its FIRST statement against it — the
            # write-set validation baseline (HIVE-13395, r13 task 2)
            ent = self._acid[table]
            self._txn_snap.setdefault(session_id, {}).setdefault(
                ent["root"], self.ledger.committed_ids(ent["root"])
            )
        self._open[session_id].append((table, op))
        n = len(self._open[session_id])
        return f"ACTIVE:Buffered statement {n} for table '{table}'"

    def _commit(self, session_id: str, ops: list[tuple]) -> str:
        self._open.pop(session_id, None)  # closed whatever happens next
        self._txn_user.pop(session_id, None)
        snaps = self._txn_snap.pop(session_id, {})
        if not ops:
            self._release_session_locks(session_id)
            return "DONE:Nothing to commit (empty transaction)"
        if ops[0][0] in self._acid:  # homogeneity enforced at _buffer
            try:
                return self._commit_acid(ops, snaps)
            except Exception as e:
                return f"ERR_ENDED:commit failed: {_sanitize(e)}"
            finally:
                self._release_session_locks(session_id)
        # compose per-table transforms in statement order; evaluation
        # happens inside TransactionCatalog.commit against the catalog
        # snapshot pinned at commit (rebased on conflict)
        per_table: dict[str, list[tuple]] = {}
        for table, op in ops:
            per_table.setdefault(table, []).append(op)
        updates = {
            t: self._compose(t_ops) for t, t_ops in per_table.items()
        }
        try:
            v = self.catalog.commit(
                self.spark, updates, max_retries=self.max_retries
            )
        except (CommitConflict, Exception) as e:
            return f"ERR_ENDED:commit failed: {_sanitize(e)}"
        if self.publish:
            # publish the catalog HEAD pins (not v's): with two racing
            # commits, a slower publisher must never overwrite a newer
            # transaction's served view with an older pin
            with self._publish_lock:
                head = self.catalog.current_version()
                pins = self.catalog.resolve(head)
                for t in per_table:
                    publish_to_catalog(
                        self.spark,
                        self.catalog.table(t),
                        t,
                        db=self.publish_db,
                        version=pins[t],
                    )
        return (
            f"DONE:Committed catalog v{v} "
            f"({len(ops)} statements, {len(per_table)} tables)"
        )

    def _compose(self, t_ops: list[tuple]):
        spark = self.spark

        def transform(df: DataFrame) -> DataFrame:
            out = df
            for op in t_ops:
                kind = op[0]
                if kind == "insert":
                    _, mode, body, part = op
                    if part is not None:
                        raise ValueError(
                            "PARTITION clauses target partitioned "
                            "hive-acid enrollments, not catalog tables"
                        )
                    incoming = spark.sql(body)
                    if len(incoming.columns) != len(out.columns):
                        raise ValueError(
                            f"INSERT column count {len(incoming.columns)} "
                            f"!= table arity {len(out.columns)}"
                        )
                    aligned = incoming.toDF(*out.columns)
                    for c, typ in out.dtypes:
                        aligned = aligned.withColumn(
                            c, F.col(c).cast(typ)
                        )
                    out = aligned if mode == "overwrite" else (
                        out.unionByName(aligned)
                    )
                elif kind == "delete":
                    _, pred = op
                    if pred is None:
                        out = out.filter(F.lit(False))
                    else:
                        out = out.filter(
                            ~F.coalesce(F.expr(pred), F.lit(False))
                        )
                elif kind == "update":
                    _, sets, pred = op
                    hit = (
                        F.coalesce(F.expr(pred), F.lit(False))
                        if pred is not None
                        else F.lit(True)
                    )
                    types = dict(out.dtypes)
                    cols = []
                    set_map = dict(sets)
                    for c in out.columns:
                        if c in set_map:
                            cols.append(
                                F.when(hit, F.expr(set_map[c]))
                                .otherwise(F.col(c))
                                .cast(types[c])
                                .alias(c)
                            )
                        else:
                            cols.append(F.col(c))
                    unknown = set(set_map) - set(out.columns)
                    if unknown:
                        raise ValueError(
                            f"UPDATE SET references unknown columns "
                            f"{sorted(unknown)}"
                        )
                    out = out.select(cols)
                else:  # pragma: no cover - grammar guarantees kinds
                    raise ValueError(f"unknown buffered op {kind!r}")
            return out

        return transform

    # -- serving helpers ---------------------------------------------------

    def publish_all(self, version: int | None = None) -> dict[str, str]:
        """Publish every enrolled table's pinned version into the
        metastore under ``publish_db`` (initial serving setup)."""
        pins = self.catalog.resolve(version)
        return {
            t: publish_to_catalog(
                self.spark, self.catalog.table(t), t,
                db=self.publish_db, version=v,
            )
            for t, v in pins.items()
        }

    class Java:  # py4j callback-proxy declaration
        implements = ["sparkgraft.TxnHandler"]


def install_txn_handler(
    spark: SparkSession, manager: TxnSessionManager
) -> TxnSessionManager:
    """Start the py4j callback server (idempotent) and register the
    manager as the JVM-wide transaction handler. The session must have
    been built with :func:`txn_session_conf` (the interceptor class
    on the extensions list); without a registered handler the
    interceptor is inert."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    getattr(spark._jvm, "sparkgraft.SparkGraftTxn").setHandler(manager)
    return manager
