package graft

import java.nio.file.{Files, Path, Paths}

/** Paths inside the checkout this code was built from, so a declared
  * query, `graft.Bench` or a test reads the fixtures committed next to
  * its own sources, wherever the checkout lives and whatever the working
  * directory.
  */
object Checkout {
  /** The checkout's root: the nearest directory holding `fixtures/`,
    * walking up from where these classes were loaded (`target/...` or a
    * build directory inside the checkout), then from the working
    * directory. Where neither has one above it (a packaged jar, an
    * executor's JVM), the working directory: resolving a path never
    * fails, and only a query that reads a missing fixture does, when it
    * reads it.
    */
  lazy val root: Path = {
    val cwd = Paths.get(sys.props("user.dir")).toAbsolutePath
    def upFrom(p: Path): Option[Path] =
      Iterator.iterate(p.toAbsolutePath)(_.getParent).takeWhile(_ != null)
        .find(d => Files.isDirectory(d.resolve("fixtures")))
    scala.util.Try(
      Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)).toOption
      .flatMap(upFrom).orElse(upFrom(cwd)).getOrElse(cwd)
  }

  /** `fixtures/<rel>` under [[root]] as an absolute path string; `rel`
    * may hold glob characters, which pass through untouched.
    */
  def fixture(rel: String): String = s"${root.resolve("fixtures")}/$rel"
}
