/*
 * Hadoop's local filesystem without a `chmod` process per file.
 *
 * Without the native libhadoop, RawLocalFileSystem.setPermission forks
 * `chmod`, and it runs after every file create and every mkdir. This
 * raw filesystem sets the nine rwx bits through java.nio instead; a
 * mode with the sticky bit still goes to Hadoop's own code. The outer
 * class is a LocalFileSystem, so `.crc` checksum files are unchanged
 * and FileSystem.getLocal still casts. session.get_spark registers it
 * as `fs.file.impl` for local sessions, in place of the class Spark
 * picks by default: Hive's ProxyLocalFileSystem, whose rename refuses
 * to replace an existing file. This class keeps that refusal.
 *
 * The jar beside this file is built from it, and holds this file's
 * SHA-256 as graft/ForklessLocalFileSystem.java.sha256 (checked by
 * tests/test_session.py). Rebuild from the repository root with:
 *
 * $ cd udacity_dsnd_projects_spark/jvm && rm -rf build && javac --release 17 -cp "$(python3 -c 'import os, pyspark; print(os.path.dirname(pyspark.__file__))')/jars/*" -d build ForklessLocalFileSystem.java && sha256sum ForklessLocalFileSystem.java | cut -c1-64 > build/graft/ForklessLocalFileSystem.java.sha256 && (cd build && jar --create --no-manifest --date=2026-01-01T00:00:00Z --file ../forkless-localfs.jar graft/*) && rm -rf build
 */
package graft;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

public class ForklessLocalFileSystem extends LocalFileSystem {

  public ForklessLocalFileSystem() {
    super(new Raw());
  }

  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    try {
      if (getFileStatus(dst).isFile()) {
        return false;
      }
    } catch (FileNotFoundException absent) {
      // nothing to replace
    }
    return super.rename(src, dst);
  }

  /** RawLocalFileSystem whose setPermission does not fork. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      // PosixFilePermission lists OWNER_READ .. OTHERS_EXECUTE, bit 0400 down to 01
      Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          bits.add(bit);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
    }
  }
}
