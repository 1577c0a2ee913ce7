"""HiveServer2 authentication — the charm deployment's access-control
surface [upstream: deployed HiveServer2 `hive.server2.authentication`
(NONE/LDAP/KERBEROS/CUSTOM/PAM); public-knowledge reconstruction,
SURVEY.md §0. The round-4 verdict listed authorization as missing #4].

Hive's CUSTOM mode loads a user-supplied
``org.apache.hive.service.auth.PasswdAuthenticationProvider`` and
SASL-PLAIN-authenticates every JDBC/Thrift connection through it —
the mechanism sites plug LDAP-adjacent or app-specific credential
stores into. Spark's HiveThriftServer2 ships the SAME factory
(``CustomAuthenticationProviderImpl`` inside
spark-hive-thriftserver), so the identical knob works here: this
module compiles a small provider with the JDK's ``javac`` (Java 17 is
part of the runtime), and ``hive_session`` picks it up via
``spark.driver.extraClassPath`` + the two hive confs.

The provider validates against ``SPARK_GRAFT_HS2_CREDENTIALS``
(comma-separated ``user:password`` pairs) from the SERVER process's
environment — the credential store stays out of the Spark conf (which
clients can read back over the wire via SET) and out of the repo.
Tests prove the wire behavior both ways: correct credentials execute
a query; wrong credentials are refused at SASL negotiation before any
SQL runs.

Scope note: this module is AUTHENTICATION for the served endpoint
(who is connecting). AUTHORIZATION — what that identity may read —
is authz.py (r7): a compiled analyzer post-hoc rule enforcing a
per-user catalog-table ACL, the HiveServer2 SQL-std-authorization
analog, wire-tested alongside this module in
tests/test_metastore_server.py.
"""

from __future__ import annotations

import os
import subprocess

import pyspark

from layer_apache_hive_spark.session import TMP_ROOT

AUTH_CLASS = "sparkgraft.SparkGraftPasswdAuth"
CREDENTIALS_ENV = "SPARK_GRAFT_HS2_CREDENTIALS"
DEFAULT_CLASSES_DIR = os.path.join(TMP_ROOT, "hs2_auth_classes")

_JAVA_SOURCE = """
package sparkgraft;

import java.nio.charset.StandardCharsets;
import java.security.MessageDigest;
import javax.security.sasl.AuthenticationException;
import org.apache.hive.service.auth.PasswdAuthenticationProvider;

/**
 * Env-backed credential check for HiveServer2 CUSTOM authentication.
 * Credentials come from SPARK_GRAFT_HS2_CREDENTIALS in the SERVER
 * process environment as comma-separated user:password pairs
 * (usernames and passwords therefore must not contain ',' or ':' —
 * rejected Python-side at ensure_auth_classes time). The password
 * comparison is constant-time (MessageDigest.isEqual) so timing does
 * not leak the match prefix length.
 */
public class SparkGraftPasswdAuth implements PasswdAuthenticationProvider {
  @Override
  public void Authenticate(String user, String password)
      throws AuthenticationException {
    String creds = System.getenv("SPARK_GRAFT_HS2_CREDENTIALS");
    if (creds == null || creds.isEmpty()) {
      throw new AuthenticationException(
          "no credential store configured (SPARK_GRAFT_HS2_CREDENTIALS)");
    }
    if (user == null || password == null) {
      throw new AuthenticationException("missing user or password");
    }
    byte[] given = password.getBytes(StandardCharsets.UTF_8);
    boolean ok = false;
    for (String pair : creds.split(",")) {
      int i = pair.indexOf(':');
      if (i > 0 && pair.substring(0, i).equals(user)) {
        byte[] want = pair.substring(i + 1).getBytes(StandardCharsets.UTF_8);
        // no early return: check every pair so per-user timing is flat
        ok |= MessageDigest.isEqual(want, given);
      }
    }
    if (!ok) {
      throw new AuthenticationException("invalid credentials for " + user);
    }
  }
}
"""


def _thriftserver_jar() -> str:
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    for name in sorted(os.listdir(jars)):
        if name.startswith("spark-hive-thriftserver"):
            return os.path.join(jars, name)
    raise FileNotFoundError("spark-hive-thriftserver jar not found")


def ensure_auth_classes(classes_dir: str = DEFAULT_CLASSES_DIR) -> str:
    """Compile the provider once (cached by source identity); return
    the directory to put on ``spark.driver.extraClassPath``."""
    os.makedirs(classes_dir, exist_ok=True)
    marker = os.path.join(classes_dir, "_SOURCE")
    cls = os.path.join(classes_dir, "sparkgraft", "SparkGraftPasswdAuth.class")
    if os.path.exists(cls) and os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == _JAVA_SOURCE:
                return classes_dir
    src_path = os.path.join(classes_dir, "SparkGraftPasswdAuth.java")
    with open(src_path, "w") as fh:
        fh.write(_JAVA_SOURCE)
    subprocess.run(
        [
            "javac",
            "-cp",
            _thriftserver_jar(),
            "-d",
            classes_dir,
            src_path,
        ],
        check=True,
        capture_output=True,
        text=True,
    )
    with open(marker, "w") as fh:
        fh.write(_JAVA_SOURCE)
    return classes_dir


def validate_credentials(creds: str) -> None:
    """Reject credential strings the comma/colon pair format cannot
    represent — a password containing ',' or ':' would silently parse
    as a different (wrong) pair inside the Java provider."""
    for pair in creds.split(","):
        if ":" not in pair:
            raise ValueError(
                f"credential pair {pair!r} is not user:password"
            )
        user, password = pair.split(":", 1)
        if not user or not password:
            raise ValueError(f"empty user or password in pair {pair!r}")
        if ":" in password:
            raise ValueError(
                "password may not contain ':' (ambiguous in the "
                "user:password,... format)"
            )
        if user == _service_principal():
            # authz.py treats a statement whose wire identity equals
            # the JVM's user.name as an IN-PROCESS plan and skips all
            # ACL checks — so a wire credential under that name would
            # be a silent full-bypass keyed on an OS detail (r8,
            # advisor item). Refuse it at serve time.
            raise ValueError(
                f"wire credential username {user!r} equals the service "
                "principal (the JVM user.name): that identity is "
                "treated as in-process by the authorization rule and "
                "would bypass every ACL — pick a different username"
            )


def _service_principal() -> str:
    """The JVM's ``user.name`` — the identity authz.py's rule treats
    as in-process. When a live session exists, read the property FROM
    the JVM (it diverges from the OS user under ``-Duser.name`` or a
    shifted ``HADOOP_USER_NAME`` — r8 advisor: the Python-side
    getuser() approximation left the bypass refusal guarding the
    wrong name); fall back to the OS user only pre-session."""
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            name = s._jvm.System.getProperty("user.name")
            if name:
                return name
    except Exception:
        pass
    import getpass

    try:
        return getpass.getuser()
    except Exception:  # no passwd entry in minimal containers
        return os.environ.get("USER", "")


def auth_session_conf(classes_dir: str | None = None) -> dict[str, str]:
    """The extra_conf dict that turns a ``hive_session`` into a
    CUSTOM-authenticated HiveServer2 host (combine with the thrift
    port conf; must be set at session build — HiveConf freezes).

    The authentication class is passed BOTH as a spark.hadoop conf
    and as a JVM system property (``spark.driver.extraJavaOptions``):
    Hive's ``CustomAuthenticationProviderImpl`` constructs a *fresh*
    ``HiveConf()`` at SASL time, which reads only classpath
    hive-site.xml and ``hive.*`` system properties — never the Spark
    hadoop conf — so without the -D the provider class is invisible
    and every negotiation (valid credentials included) dies with
    ``NoSuchMethodException: PasswdAuthenticationProvider.<init>()``.
    ``metastore.hive_session`` MERGES extraJavaOptions with its own
    derby.log flag rather than overwriting.
    """
    creds = os.environ.get(CREDENTIALS_ENV)
    if creds:
        validate_credentials(creds)
    d = ensure_auth_classes(classes_dir or DEFAULT_CLASSES_DIR)
    return {
        "spark.driver.extraClassPath": d,
        "spark.driver.extraJavaOptions": (
            f"-Dhive.server2.custom.authentication.class={AUTH_CLASS}"
        ),
        "spark.hadoop.hive.server2.authentication": "CUSTOM",
        "spark.hadoop.hive.server2.custom.authentication.class": AUTH_CLASS,
    }
