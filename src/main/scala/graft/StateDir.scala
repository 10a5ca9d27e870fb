package graft

import java.io.File

/** Where the registered-query helpers keep their on-disk state:
  * `target/<family>/<key>`, resolved against the JVM's working directory
  * (sbt's forked run and test JVMs start in the project directory), so
  * each checkout keeps its own state tree.
  *
  * The key is the input's basename, the hex of its canonical path's
  * `hashCode` (spec-fixed for `String`, so stable across JVMs), then
  * each of `params`, joined with `-`. Two inputs that share a basename
  * get distinct directories; a relative and an absolute spelling of one
  * input get the same one. Returns an absolute path and creates nothing. */
object StateDir {
  def of(family: String, input: String, params: String*): String = {
    val in = new File(input)
    val hash = (in.getCanonicalPath.hashCode.toLong & 0xffffffffL).toHexString
    val key = (s"${in.getName}-$hash" +: params).mkString("-")
    new File(new File("target", family).getAbsoluteFile, key).getPath
  }
}
